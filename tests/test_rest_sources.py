"""Hermetic tests for the REST source machinery (SURVEY S1-S7) using
fixture transports — the pagination protocols, retry/rate-limit envelope,
and the mapInPandas detail fan-out."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from bi_gcp_stitch_repl_spark.sources import rest


def make_transport(pages_by_call):
    """Transport returning scripted responses; records calls."""
    calls = []

    def transport(url, params):
        calls.append((url, dict(params)))
        return pages_by_call(url, params)

    transport.calls = calls
    return transport


# -- S1 offset/limit ---------------------------------------------------------


def test_paginate_offset_stops_on_short_page():
    rows = [{"id": i} for i in range(12)]

    def respond(url, p):
        return rows[p["offset"] : p["offset"] + p["limit"]]

    t = make_transport(respond)
    pages = list(rest.paginate_offset(t, "u", limit=5))
    assert [len(p) for p in pages] == [5, 5, 2]
    assert [c[1]["offset"] for c in t.calls] == [0, 5, 10]


def test_paginate_offset_empty_first_page():
    t = make_transport(lambda u, p: [])
    assert list(rest.paginate_offset(t, "u", limit=5)) == []


# -- S2 page counter + last flag ---------------------------------------------


def test_paginate_page_flag():
    def respond(url, p):
        page = p["page"]
        return {"content": [{"id": page}], "last": page == 2}

    pages = list(rest.paginate_page_flag(make_transport(respond), "u"))
    assert [p[0]["id"] for p in pages] == [0, 1, 2]


# -- S3/S4 keyset -------------------------------------------------------------


def _keyset_rows(n):
    return [{"Id": i, "v": i * 10} for i in range(1, n + 1)]


def _keyset_respond(rows, take_default=500):
    def respond(url, p):
        start = p.get("from")
        take = p["take"]
        begin = 0 if start is None else next(
            (i for i, r in enumerate(rows) if r["Id"] == start), len(rows)
        )
        # keyset APIs include the cursor row itself (the reference skips it)
        return rows[begin : begin + take + (0 if start is None else 1)]

    return respond


def test_paginate_keyset_advances_and_stops():
    rows = _keyset_rows(7)
    t = make_transport(_keyset_respond(rows))
    pages = list(rest.paginate_keyset(t, "u", take=3))
    got = [r["Id"] for page in pages for r in page]
    assert got == [1, 2, 3, 4, 5, 6, 7]


def test_paginate_keyset_watermark_resume_and_row_limit():
    rows = _keyset_rows(10)
    t = make_transport(_keyset_respond(rows))
    pages = list(rest.paginate_keyset(t, "u", take=3, start_after=4, row_limit=4))
    got = [r["Id"] for page in pages for r in page]
    assert got == [5, 6, 7, 8]  # resumes after watermark, caps at row_limit


# -- S5 cursor link ------------------------------------------------------------


def test_paginate_cursor_link():
    book = {
        "u": {"results": [1, 2], "paging": {"next": {"link": "u2"}}},
        "u2": {"results": [3]},
    }
    t = make_transport(lambda u, p: book[u])
    pages = list(rest.paginate_cursor_link(t, "u"))
    assert pages == [[1, 2], [3]]


# -- S6 starting_after ----------------------------------------------------------


def test_paginate_starting_after_full_pagination():
    """The reference force-stops after page one (stripe_charges.py:52 debug
    cap, SURVEY §4.4) — we page to exhaustion."""
    rows = [{"id": f"ch_{i}"} for i in range(5)]

    def respond(url, p):
        start = 0
        if "starting_after" in p:
            start = next(i for i, r in enumerate(rows) if r["id"] == p["starting_after"]) + 1
        chunk = rows[start : start + p["limit"]]
        return {"data": chunk, "has_more": start + p["limit"] < len(rows)}

    pages = list(rest.paginate_starting_after(make_transport(respond), "u", limit=2))
    assert [r["id"] for page in pages for r in page] == [f"ch_{i}" for i in range(5)]


# -- retry / rate limit ----------------------------------------------------------


def test_retry_policy_backoff_then_success():
    sleeps = []
    attempts = {"n": 0}

    def flaky():
        attempts["n"] += 1
        if attempts["n"] < 3:
            raise rest.RetryableError("429")
        return "ok"

    rp = rest.RetryPolicy(total=5, backoff_factor=1.0, sleep=sleeps.append)
    assert rp.call(flaky) == "ok"
    assert sleeps == [1.0, 2.0]  # exponential backoff


def test_retry_policy_exhaustion_raises():
    rp = rest.RetryPolicy(total=2, sleep=lambda s: None)
    with pytest.raises(rest.RetryableError):
        rp.call(lambda: (_ for _ in ()).throw(rest.RetryableError("boom")))


def test_rate_limiter_spacing():
    clock = {"t": 0.0}
    sleeps = []

    def fake_sleep(s):
        sleeps.append(s)
        clock["t"] += s

    rl = rest.RateLimiter(min_interval=2.0, clock=lambda: clock["t"], sleep=fake_sleep)
    rl.wait()  # first call free
    rl.wait()
    assert sleeps == [2.0]


# -- pages → DataFrame + S7 fan-out -----------------------------------------------


def test_to_dataframe_schema_padding(spark):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("missing", T.StringType()),
        ]
    )
    pages = iter([[{"id": 1, "name": "a"}], [{"id": 2, "name": "b"}]])
    df = rest.to_dataframe(spark, pages, schema)
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["missing"] is None and rows[2]["name"] == "b"


def test_fanout_fetch_parallel_with_failures(spark):
    keys = spark.createDataFrame([(i,) for i in range(1, 21)], "id long")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("total", T.DoubleType()),
            T.StructField("_fetch_ok", T.BooleanType()),
        ]
    )

    def fetch_one(key):
        if key % 7 == 0:
            return None  # failed fetch → isolated, not fatal
        return {"id": key, "total": key * 1.5}

    out = rest.fanout_fetch(
        keys, fetch_one, schema, key_col="id", parallelism=4
    ).collect()
    ok = [r for r in out if r["_fetch_ok"]]
    bad = [r for r in out if not r["_fetch_ok"]]
    assert len(out) == 20 and len(bad) == 2  # ids 7, 14
    assert all(r["total"] == r["id"] * 1.5 for r in ok)


def test_fanout_fetch_retries_flaky_keys(spark):
    keys = spark.createDataFrame([(1,), (2,)], "id long")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("_fetch_ok", T.BooleanType())]
    )
    state = {}

    def flaky(key):
        # fails once per key, then succeeds (state is per-executor-process,
        # which local mode shares)
        if state.get(key) is None:
            state[key] = 1
            raise rest.RetryableError("500")
        return {"id": key}

    out = rest.fanout_fetch(
        keys,
        flaky,
        schema,
        key_col="id",
        parallelism=1,
        retry=rest.RetryPolicy(total=3, sleep=lambda s: None),
    ).collect()
    assert sorted(r["id"] for r in out if r["_fetch_ok"]) == [1, 2]


def test_paginate_page_flag_missing_flag_raises_and_empty_page_stops():
    """Review-r04: a payload MISSING the last-flag (API drift) must raise
    loudly — defaulting to 'last' silently truncated multi-page extracts
    to page 0; and last=false with an empty page must stop, not spin."""
    import pytest as _pytest

    from bi_gcp_stitch_repl_spark.sources import rest

    def renamed_flag(url, params):
        return {"content": [{"id": 1}], "isLast": False}  # wrong key

    with _pytest.raises(KeyError, match="last"):
        list(rest.paginate_page_flag(renamed_flag, "u"))

    calls = {"n": 0}

    def stuck_empty(url, params):
        calls["n"] += 1
        return {"content": [], "last": False}  # claims more, serves none

    pages = list(rest.paginate_page_flag(stuck_empty, "u"))
    assert pages == [[]] and calls["n"] == 1  # progress guard: one call


def test_paginate_keyset_stalled_cursor_stops_without_duplicates():
    """Review-r04: the stall guard compared against the CURSOR-FILTERED
    page tail, which can never equal the cursor — a server re-serving
    the same page looped forever emitting duplicates. The raw page's
    last id not advancing must stop the iterator."""
    from bi_gcp_stitch_repl_spark.sources import rest

    def stuck(url, params):
        # always the same page regardless of from=<cursor>
        return [{"Id": 1}, {"Id": 2}, {"Id": 3}]

    pages = list(rest.paginate_keyset(stuck, "u", take=3))
    # first page emits; the second identical page is detected as a stall
    # (raw tail == cursor) and nothing re-yields
    assert pages == [[{"Id": 1}, {"Id": 2}, {"Id": 3}]]


# -- review r05 guards --------------------------------------------------------


def test_missing_items_container_raises_not_empty_extract():
    """A renamed items key must raise, not read as a 0-row extract that a
    truncate-refresh would then commit (review r05)."""
    with pytest.raises(KeyError):
        list(rest.paginate_page_flag(
            make_transport(lambda u, p: {"last": False, "items": [1]}), "u"
        ))
    with pytest.raises(KeyError):
        list(rest.paginate_cursor_link(
            make_transport(lambda u, p: {"items": [1]}), "u"
        ))
    with pytest.raises(KeyError):
        list(rest.paginate_starting_after(
            make_transport(lambda u, p: {"items": [1], "has_more": False}), "u"
        ))


def test_cursor_link_stall_guard_stops():
    """A server re-serving the same next link must terminate, not loop
    forever emitting duplicates (review r05)."""
    t = make_transport(
        lambda u, p: {"results": [1], "paging": {"next": {"link": "u"}}}
    )
    pages = list(rest.paginate_cursor_link(t, "u"))
    assert pages == [[1]]
    assert len(t.calls) == 1


def test_starting_after_stall_guard_stops():
    """A server ignoring starting_after (same page, has_more=true) must
    terminate without duplicates (review r05)."""
    t = make_transport(lambda u, p: {"data": [{"id": "a"}], "has_more": True})
    pages = list(rest.paginate_starting_after(t, "u"))
    assert pages == [[{"id": "a"}]]
    assert len(t.calls) == 2  # first page + the stalled probe


def test_fanout_nondict_detail_dead_letters(spark):
    """A truthy non-dict fetch result must surface as _fetch_ok=false,
    not crash the stage (review r05)."""
    keys = spark.createDataFrame([(1,), (2,)], "id long")
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("_fetch_ok", T.BooleanType()),
    ])
    out = rest.fanout_fetch(
        keys,
        lambda k: ["error", "envelope"] if k == 2 else {"id": k, "v": "ok"},
        schema,
        error_col="_err",
    ).collect()
    by_id = {r["id"]: r for r in out}
    assert by_id[1]["_fetch_ok"] and by_id[1]["v"] == "ok"
    assert not by_id[2]["_fetch_ok"] and "TypeError" in by_id[2]["_err"]


def test_to_dataframe_many_chunks_balanced_union(spark):
    """Thousands of pages must not build an O(n)-deep union plan; rows
    survive the balanced fold (review r05)."""
    schema = T.StructType([T.StructField("k", T.LongType())])
    pages = iter([[{"k": i}] for i in range(65)])
    df = rest.to_dataframe(spark, pages, schema, chunk_rows=1)
    assert df.count() == 65
    # depth check (node COUNT is ~n either way; nesting depth is what
    # kills analysis): max indentation of the logical plan tree tracks
    # depth — a left-leaning 65-chunk chain indents ~65 levels deep,
    # the balanced tree stays logarithmic
    plan = df._jdf.queryExecution().logical().toString()
    max_indent = max(
        (len(l) - len(l.lstrip(" :+-")) for l in plan.splitlines() if l.strip()),
        default=0,
    )
    assert max_indent <= 64, max_indent


def test_cursor_link_two_link_cycle_stops():
    """ADVICE r05: a two-link cycle (A→B→A from a buggy or load-balanced
    endpoint) must terminate like the self-loop stall — the guard tracks
    ALL visited links, not just the immediate predecessor."""
    book = {
        "a": {"results": [1], "paging": {"next": {"link": "b"}}},
        "b": {"results": [2], "paging": {"next": {"link": "a"}}},
    }
    t = make_transport(lambda u, p: book[u])
    pages = list(rest.paginate_cursor_link(t, "a"))
    assert pages == [[1], [2]]
    assert len(t.calls) == 2  # each page fetched exactly once


# -- to_dataframe conversion edges ---------------------------------------------

#: nested payload schema for the conversion-edge tests
EDGE_SCHEMA = (
    "id bigint, amount double, label string,"
    " meta struct<src:string,n:bigint>, tags array<string>"
)


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def _offset_sync(spark, wh, rows):
    from bi_gcp_stitch_repl_spark.jobs import pipelines

    def transport(url, p):
        return rows[p["offset"] : p["offset"] + p["limit"]]

    return pipelines.entity_replication(
        spark, transport, wh,
        source={"protocol": "offset", "url": "u", "limit": 10, "schema": EDGE_SCHEMA},
        select=[{"name": "id"}, {"name": "amount"}],
        sink={"mode": "upsert", "keys": ["id"]},
    )


@pytest.mark.parametrize(
    "field, value, spark_type",
    [("id", 1.5, "LongType"), ("id", True, "LongType"), ("amount", 1, "DoubleType")],
)
def test_to_dataframe_wrong_typed_scalar_raises_before_commit(
    spark, tmp_path, field, value, spark_type
):
    """The row verifier runs before the Arrow conversion, which on its own
    would turn 1.5 into 1 in a bigint: a float or bool in a bigint field
    and an int in a double field raise out of the sync, and the target
    gains no commit."""
    from bi_gcp_stitch_repl_spark.sinks.versioned import VersionedTable

    wh = str(tmp_path / "t")
    _offset_sync(spark, wh, [{"id": 1, "amount": 2.0}])
    version = VersionedTable(spark, wh).latest_version()
    bad = dict({"id": 2, "amount": 3.0}, **{field: value})
    with pytest.raises(TypeError, match=f"{spark_type}.*can not accept object"):
        _offset_sync(spark, wh, [{"id": 1, "amount": 9.0}, bad])
    t = VersionedTable(spark, wh)
    assert t.latest_version() == version
    assert [tuple(r) for r in t.read().collect()] == [(1, 2.0)]


def test_to_dataframe_non_str_scalars_in_string_field_render_as_before(spark):
    """Arrow refuses a non-str value in a string field; such a chunk takes
    the list conversion and renders it as ``createDataFrame(list)`` does,
    landed so later actions run no Python worker."""
    schema = T.StructType.fromDDL("id bigint, label string")
    rows = [
        {"id": 1, "label": 5}, {"id": 2, "label": True},
        {"id": 3, "label": 1e-05}, {"id": 4, "label": "x"},
    ]
    df = rest.to_dataframe(spark, iter([rows]), schema)
    assert "PythonRDD" not in _lineage(df)
    got = sorted(tuple(r) for r in df.collect())
    assert got == [(1, "5"), (2, "true"), (3, "1e-05"), (4, "x")]
    assert got == sorted(tuple(r) for r in spark.createDataFrame(rows, schema).collect())


def test_to_dataframe_nested_padding_empty_and_chunking(spark):
    """A missing nested key is NULL; an empty extract is an empty frame
    with the schema; chunk_rows=2 gives the single-chunk rows; neither
    frame runs a Python worker on its actions."""
    schema = T.StructType.fromDDL(EDGE_SCHEMA)
    rows = [
        {"id": 1, "amount": 1.5, "meta": {"src": "a"}, "tags": ["x", None]},
        {"id": 2, "label": "b", "meta": {"n": 7}},
        {"id": 3, "amount": None, "tags": []},
        {"id": 4, "amount": -0.0, "label": "", "meta": None, "extra": 1},
        {"id": 5, "amount": 2.5, "meta": {"src": "e", "n": -(2**63)}},
    ]
    one = rest.to_dataframe(spark, iter([rows[:3], rows[3:]]), schema)
    two = rest.to_dataframe(spark, iter([rows[:3], rows[3:]]), schema, chunk_rows=2)
    for df in (one, two):
        assert df.schema == schema
        assert "PythonRDD" not in _lineage(df)
    got = sorted(one.collect())
    assert got == sorted(two.collect())
    assert got == sorted(spark.createDataFrame(rows, schema).collect())
    assert got[0]["meta"]["n"] is None and got[1]["meta"]["src"] is None
    assert got[2]["meta"] is None and got[2]["tags"] == []
    empty = rest.to_dataframe(spark, iter([]), schema)
    assert empty.schema == schema and empty.collect() == []
