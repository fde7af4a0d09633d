"""Raw-file ingestion: JSONL with schema enforcement + quarantine."""

from __future__ import annotations

import json

from pyspark.sql import types as T

from bi_gcp_stitch_repl_spark.sources import files


def _write_jsonl(tmp_path, rows, corrupt_lines=()):
    p = tmp_path / "shard.jsonl"
    lines = [json.dumps(r) for r in rows] + list(corrupt_lines)
    p.write_text("\n".join(lines))
    return str(p)


def test_jsonl_clean_and_quarantine_split(spark, tmp_path):
    good = [
        {"doc_id": 1, "text": "hello world", "lang": "en", "source": "web"},
        {"doc_id": 2, "text": "zweiter text", "lang": "de", "source": "web"},
    ]
    path = _write_jsonl(
        tmp_path,
        good,
        corrupt_lines=['{"doc_id": "not-a-number}', "plainly not json"],
    )
    clean, bad = files.read_jsonl(spark, path, files.DOCUMENT_SCHEMA)
    assert sorted(r.doc_id for r in clean.collect()) == [1, 2]
    assert clean.columns == ["doc_id", "text", "lang", "source"]
    raw = sorted(r.raw_line for r in bad.collect())
    assert raw == ["plainly not json", '{"doc_id": "not-a-number}']


def test_jsonl_type_mismatch_quarantines_not_nulls(spark, tmp_path):
    path = _write_jsonl(
        tmp_path,
        [{"doc_id": 1, "text": "ok", "lang": "en", "source": "s"}],
        corrupt_lines=[json.dumps({"doc_id": "seven", "text": "bad type"})],
    )
    clean, bad = files.read_jsonl(spark, path, files.DOCUMENT_SCHEMA)
    assert [r.doc_id for r in clean.collect()] == [1]
    assert bad.count() == 1  # wrong dtype is corrupt, not silently null


def test_ingest_documents_jsonl_computes_n_chars_and_persists_quarantine(
    spark, tmp_path
):
    path = _write_jsonl(
        tmp_path,
        [{"doc_id": 5, "text": "abcdef", "lang": "en", "source": "s"}],
        corrupt_lines=["broken"],
    )
    qdir = str(tmp_path / "quarantine")
    docs = files.ingest_documents_jsonl(spark, path, quarantine_path=qdir)
    row = docs.collect()[0]
    assert (row.doc_id, row.n_chars) == (5, 6)
    assert spark.read.parquet(qdir).count() == 1


def test_schema_with_reserved_corrupt_column_rejected(spark):
    import pytest

    bad_schema = T.StructType([T.StructField(files.CORRUPT_COL, T.StringType())])
    with pytest.raises(ValueError):
        files._with_corrupt(bad_schema)


def test_jsonl_gzip_shard_reads_transparently(spark, tmp_path):
    """The documented gzip path: unsplittable (one task per file) but
    readable — codec inferred from the extension by the text source."""
    import gzip

    p = tmp_path / "shard.jsonl.gz"
    with gzip.open(p, "wt") as f:
        f.write(
            "\n".join(
                json.dumps({"doc_id": i, "text": "t", "lang": "en", "source": "s"})
                for i in range(5)
            )
        )
    clean, bad = files.read_jsonl(spark, str(p), files.DOCUMENT_SCHEMA)
    assert clean.count() == 5 and bad.count() == 0
