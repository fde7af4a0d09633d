"""Raw-file document sources: JSONL with corrupt-record quarantine.

The reference ingests only APIs/warehouse/sheets, but a training-data
pipeline's largest input class is raw text dumps — JSONL shards (one JSON
doc per line, the de-facto corpus interchange format). The reader parses
with the contract a 100 TB ingest needs:

- **Schema is REQUIRED, never inferred.** Inference reads the entire input
  once before the real scan (2× I/O at corpus scale) and silently changes
  dtypes between shards; an explicit schema makes every load
  deterministic and single-pass.
- **PERMISSIVE + quarantine, never fail-or-drop.** One malformed line in a
  billion must neither kill the job (FAILFAST) nor vanish silently
  (DROPMALFORMED). Bad records split into a quarantine frame carrying the
  raw offending line; the clean frame carries only the declared columns.
- **Splittability awareness.** Line-based parsing is what keeps the input
  splittable; multiline mode stays structurally impossible here. gzip
  shards are still one-task-per-file — ``repartition_hint`` re-spreads
  decoded rows when the upstream shard layout is coarse.

Implementation note: we deliberately parse ``spark.read.text`` +
``from_json`` rather than the json DataSource reader.
The raw reader refuses plans that query only the corrupt-record column
(Spark's UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN — the
documented workaround is ``cache()``, which is exactly what a 100 TB
ingest cannot do), and its corrupt column is reconstructed rather than
the verbatim input. Parsing computed columns over the text source gives
the same PERMISSIVE semantics, needs no cache, keeps the TRUE raw line
for the quarantine, and both frames still share one file scan.

Spark reference: ``from_json`` options (``mode``,
``columnNameOfCorruptRecord``) — public Spark SQL function API.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: struct field capturing the raw text of unparseable lines
CORRUPT_COL = "_corrupt_record"


def _with_corrupt(schema: T.StructType) -> T.StructType:
    """Schema + the corrupt-record capture field (PERMISSIVE contract:
    the field must be declared in the schema to be populated)."""
    if CORRUPT_COL in schema.fieldNames():
        raise ValueError(f"schema already defines {CORRUPT_COL}")
    return T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )


def _split(parsed: DataFrame, schema: T.StructType) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantine) from a frame with struct ``r`` + raw ``value``."""
    ok = F.col("r").isNotNull() & F.col(f"r.{CORRUPT_COL}").isNull()
    clean = parsed.filter(ok).select(
        *[F.col(f"r.{f.name}").alias(f.name) for f in schema.fields]
    )
    quarantine = parsed.filter(~ok).select(F.col("value").alias("raw_line"))
    return clean, quarantine


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    repartition_hint: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Read newline-delimited JSON into ``(clean, quarantine)`` frames.

    ``clean`` has exactly the declared columns (rows that parsed and
    type-checked); ``quarantine`` has the verbatim offending line in
    ``raw_line``. Blank lines are skipped (shard-concatenation artifacts,
    not corruption)."""
    full = _with_corrupt(schema)
    opts = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL}
    raw = spark.read.text(path).filter(F.length(F.trim("value")) > 0)
    if repartition_hint:
        raw = raw.repartition(repartition_hint)
    parsed = raw.select(
        F.from_json(F.col("value"), full, opts).alias("r"), "value"
    )
    return _split(parsed, schema)


#: canonical corpus-document schema (mirrors the testdata documents table)
DOCUMENT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)


def ingest_documents_jsonl(
    spark: SparkSession,
    path: str,
    *,
    quarantine_path: str | None = None,
    repartition_hint: int | None = None,
) -> DataFrame:
    """Corpus ingest entry point: JSONL shards → canonical documents frame
    (doc_id/text/lang/source + computed n_chars), with malformed lines
    persisted to ``quarantine_path`` (parquet, appended) when given.
    Returns only the clean frame — downstream stages (gopher gate, dedup,
    split/shard) compose lazily on top.

    COST NOTE: with ``quarantine_path`` this entry point scans the input
    TWICE — the quarantine write is its own eager job over the full
    parse, and the returned clean frame scans again when consumed.
    Within either job the clean/bad split shares one scan, but not
    across them; a lazily-returned frame cannot share a cache with an
    already-finished write without leaking the pinned parse. When the
    double scan matters (true corpus scale), use
    ``streaming.ingest.ingest_documents_stream``: its foreachBatch
    persists each micro-batch so both sinks genuinely consume one scan,
    and it adds exactly-once txn dedup on top."""
    clean, bad = read_jsonl(
        spark, path, DOCUMENT_SCHEMA, repartition_hint=repartition_hint
    )
    if quarantine_path is not None:
        bad.write.mode("append").parquet(quarantine_path)
    return clean.withColumn("n_chars", F.length("text").cast("long"))
