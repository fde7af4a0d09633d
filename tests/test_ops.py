"""Normalization / cleaning / key ops on nested payload fixtures (the
FIXTURES.md shapes: invoice headers with positions arrays, deep structs with
absent optionals, property-bag maps)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from bi_gcp_stitch_repl_spark.ops.clean import (
    null_if_in,
    percent_to_fraction,
    strip_thousands,
)
from bi_gcp_stitch_repl_spark.ops.history import latest_per_key
from bi_gcp_stitch_repl_spark.ops.keys import carry_forward_keys
from bi_gcp_stitch_repl_spark.ops.normalize import (
    explode_with_parent,
    flatten_structs,
    pad_columns,
)
from bi_gcp_stitch_repl_spark.sources.sheets import sheet_to_dataframe


def invoice_fixture(spark):
    """bexio_invoice shape (FIXTURES.md §2.1): header + positions array."""
    rows = [
        Row(
            id=10,
            title="line1\nline2'q",
            total="123.45",
            taxs=[Row(percentage="7.7", value="8.4")],
            updated_at="2024-01-05 10:00:00",
            positions=[
                Row(id=1, type="KbPositionCustom", amount="2", unit_price="10.0"),
                Row(id=2, type="KbPositionDiscount", amount="1", unit_price="-5.0"),
            ],
        ),
        Row(
            id=11,
            title=None,
            total="n/a",
            taxs=[],
            updated_at="2024-01-06 10:00:00",
            positions=[],
        ),
    ]
    return spark.createDataFrame(rows)


def test_explode_with_parent_attaches_and_renames(spark):
    df = invoice_fixture(spark)
    out = explode_with_parent(
        df, "positions", {"id": "invoice_id", "updated_at": "updated_at"}
    )
    rows = out.collect()
    assert {r["invoice_id"] for r in rows} == {10}  # empty array parent dropped
    assert {r["type"] for r in rows} == {"KbPositionCustom", "KbPositionDiscount"}


def test_explode_with_parent_keep_empty(spark):
    df = invoice_fixture(spark)
    # parent `id` renamed: positions structs carry their own `id` field
    out = explode_with_parent(df, "positions", {"id": "invoice_id"}, keep_empty=True)
    assert out.filter(F.col("invoice_id") == 11).count() == 1  # outer row survives


def test_flatten_structs_dotted_names(spark):
    df = spark.createDataFrame(
        [Row(a=Row(b=Row(c=1), d="x"), top=2)]
    )
    out = flatten_structs(df)
    assert set(out.columns) == {"a.b.c", "a.d", "top"}
    assert out.collect()[0]["a.b.c"] == 1


def test_pad_columns_adds_typed_nulls_in_order(spark):
    df = spark.createDataFrame([(1,)], "a long")
    out = pad_columns(df, [("b", "string"), ("a", "long"), ("c", "double")])
    assert out.columns == ["b", "a", "c"]
    row = out.collect()[0]
    assert row["b"] is None and row["a"] == 1 and row["c"] is None


def test_scalar_coercions(spark):
    df = spark.createDataFrame(
        [("12.5%", "1,234.5", "n.a.")],
        "pct string, thou string, sentinel string",
    )
    row = df.select(
        percent_to_fraction("pct").alias("frac"),
        strip_thousands("thou").alias("thou"),
        null_if_in("sentinel", ["n.a.", ""]).alias("s"),
    ).collect()[0]
    assert row["frac"] == 0.125
    assert row["thou"] == "1234.5"
    assert row["s"] is None


def test_carry_forward_keys_preserves_existing_mints_new(spark):
    existing = spark.createDataFrame(
        [(1, "u-1", "2020-01-01")], "bexio_id long, u_id string, created_at string"
    )
    batch = spark.createDataFrame([(1, 9.0), (2, 5.0)], "bexio_id long, amount double")
    out = carry_forward_keys(
        batch,
        existing,
        "bexio_id",
        carried={
            "u_id": F.concat(F.lit("new-"), F.col("bexio_id")),
            "created_at": F.lit("2024-06-01"),
        },
    )
    got = {r["bexio_id"]: (r["u_id"], r["created_at"]) for r in out.collect()}
    assert got == {1: ("u-1", "2020-01-01"), 2: ("new-2", "2024-06-01")}


def test_latest_per_key(spark):
    df = spark.createDataFrame(
        [(1, 1, "old"), (1, 2, "new"), (2, 5, "only")], "k long, ts long, v string"
    )
    got = {r["k"]: r["v"] for r in latest_per_key(df, ["k"], "ts").collect()}
    assert got == {1: "new", 2: "only"}


def test_sheet_source_header_promotion_and_slicing(spark):
    values = [
        ["junk", "junk", ""],
        ["name", "ltv", ""],
        ["a", "1,200", "x"],
        ["b", "3,400", "y"],
        ["c", "5,600", "z"],
    ]
    df = sheet_to_dataframe(
        spark, values, header_row=1, data_start=2, data_end=4, col_slice=(0, 3)
    )
    assert df.columns == ["name", "ltv"]  # empty header col dropped
    assert [r["name"] for r in df.collect()] == ["a", "b"]


def test_expectations_detect_planted_violations(spark):
    from bi_gcp_stitch_repl_spark.ops.validate import Expectations

    child = spark.createDataFrame(
        [
            (1, "A", 10.0, "ok@x.io"),
            (1, "A", 20.0, "ok2@x.io"),     # dup id
            (2, "Z", -5.0, "bad-email"),    # bad status, out of range, bad regex
            (3, None, 50.0, None),          # null status / email
            (4, "B", 60.0, "a@b.c"),        # orphan fk (no parent 4... see parent)
        ],
        "id long, status string, amount double, email string",
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    report = {
        r["check"]: (r["n_violations"], r["passed"])
        for r in (
            Expectations(child)
            .expect_not_null("status")
            .expect_accepted_values("status", ["A", "B"])
            .expect_between("amount", 0, 55)
            .expect_matches("email", r"^[^@]+@[^@]+$")
            .expect_unique("id")
            .expect_fk(["id"], parent, ["id"])
            .report()
            .collect()
        )
    }
    assert report["not_null:status"] == (1, False)
    assert report["accepted_values:status"] == (2, False)  # 'Z' + NULL
    assert report["between:amount"] == (2, False)  # -5 and 60
    assert report["matches:email"] == (2, False)  # bad-email + NULL
    assert report["unique:id"] == (1, False)  # one extra row for id=1
    assert report["fk:id"] == (1, False)  # id=4 orphan
    assert len(report) == 6


def test_expectations_all_pass_on_clean_frame(spark):
    from bi_gcp_stitch_repl_spark.ops.validate import Expectations

    df = spark.createDataFrame([(1, "A"), (2, "B")], "id long, status string")
    report = (
        Expectations(df)
        .expect_not_null("id", "status")
        .expect_unique("id")
        .report()
    )
    rows = report.collect()
    assert all(r["passed"] and r["n_violations"] == 0 for r in rows)
    assert len(rows) == 3


def test_expectations_row_checks_single_scan(spark):
    """All row-local checks must fuse into one aggregation over one scan."""
    from bi_gcp_stitch_repl_spark.ops.validate import Expectations

    df = spark.range(100).selectExpr("id", "cast(id as double) v")
    report = (
        Expectations(df)
        .expect_not_null("id")
        .expect_between("v", 0, 1000)
        .expect_row("even_share", F.col("id") % 2 == 1)
        .report()
    )
    plan = report._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Range (0, 100") == 1, "row checks re-scanned the input"


def test_coercions_yield_null_not_ansi_errors(spark):
    """Review-r04: under ANSI (Spark 4 default) plain casts THROW on
    garbage — every coercion in ops.clean must keep the
    pd.to_numeric(errors='coerce') contract instead: NULL out, job
    alive."""
    from bi_gcp_stitch_repl_spark.ops import clean

    df = spark.createDataFrame(
        [("",), ("n.a.",), ("x%",), ("7%",)], "pct string"
    )
    got = [r["f"] for r in df.select(
        clean.percent_to_fraction("pct").alias("f")
    ).collect()]
    assert got == [None, None, None, 0.07]


def test_explode_with_parent_rejects_alias_collision(spark):
    """Review-r04: header and line items both carrying 'id' (the bexio
    shape) must fail loudly at the helper, not as a downstream
    AMBIGUOUS_REFERENCE."""
    import pytest as _pytest

    from bi_gcp_stitch_repl_spark.ops.normalize import explode_with_parent

    df = spark.createDataFrame(
        [(1, [{"id": 10, "v": "a"}])],
        "id long, items array<struct<id: long, v: string>>",
    )
    with _pytest.raises(ValueError, match="collide"):
        explode_with_parent(df, "items", ["id"])
    out = explode_with_parent(df, "items", {"id": "invoice_id"})
    assert out.columns == ["invoice_id", "id", "v"]


def test_sheet_headers_sanitized_and_deduplicated(spark):
    """Review-r04: dots parse as struct access and duplicate headers make
    every later select ambiguous — both must be sanitized at the
    source."""
    from bi_gcp_stitch_repl_spark.sources.sheets import sheet_to_dataframe

    df = sheet_to_dataframe(
        spark,
        [["Rev. 2024", "Amount", "Amount"], ["1.5", "2", "3"]],
    )
    assert df.columns == ["Rev__2024", "Amount", "Amount_2"]
    got = df.select(
        F.col("Rev__2024").try_cast("double").alias("r"), "Amount_2"
    ).collect()[0]
    assert got["r"] == 1.5 and got["Amount_2"] == "3"


def test_warehouse_sql_identity_default_views(spark, tmp_path):
    """Review-r04: the documented views=None identity default must
    actually register the warehouse's tables."""
    from bi_gcp_stitch_repl_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path))
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(
        wh.path("orders_wh_test")
    )
    assert wh.tables() == ["orders_wh_test"]
    assert wh.sql("SELECT COUNT(*) AS n FROM orders_wh_test").collect()[0]["n"] == 1


def test_asof_one_sided_tiebreak_equal_ts(spark):
    """Review r05: with a tiebreak on only ONE side, equal-timestamp
    matching must follow the strict/side rule — the other side's implicit
    constant must not compete against real tiebreak values (it silently
    missed the at-or-before match)."""
    from bi_gcp_stitch_repl_spark.ops.asof import asof_join

    left = spark.createDataFrame([(1, 100)], "k long, ts long")
    right = spark.createDataFrame([(1, 100, 7, "hit")], "k long, ts long, rid long, v string")
    # non-strict: the equal-ts right row matches
    out = asof_join(
        left, right, on=["k"], left_ts="ts", right_ts="ts",
        payload={"v": "v"}, right_tiebreak="rid", strict=False,
    ).collect()
    assert out[0]["v"] == "hit"
    # strict: it must NOT match
    out2 = asof_join(
        left, right, on=["k"], left_ts="ts", right_ts="ts",
        payload={"v": "v"}, right_tiebreak="rid", strict=True,
    ).collect()
    assert out2[0]["v"] is None
    # nearest: equal-ts row is a backward Δ=0 match
    from bi_gcp_stitch_repl_spark.ops.asof import asof_join_nearest

    out3 = asof_join_nearest(
        left, right, on=["k"], left_ts="ts", right_ts="ts",
        payload={"v": "v"}, right_tiebreak="rid",
    ).collect()
    assert out3[0]["v"] == "hit"


def test_zorder_on_date_column(spark):
    """Review r05: DATE cannot cast to double in Spark 3+ — clustering on
    a date key (the most common BI layout) crashed; it must rank via
    epoch days and produce a working curve."""
    import datetime

    from bi_gcp_stitch_repl_spark.ops.layout import zorder_key

    df = spark.createDataFrame(
        [(datetime.date(2024, 1, 1 + i % 28), i) for i in range(200)],
        "d date, v long",
    )
    keyed = zorder_key(df, ["d", "v"], bits=4)
    assert keyed.count() == 200
    # curve positions exist and later dates rank no lower than earlier
    rows = keyed.select("d", "__zval").collect()
    assert all(r["__zval"] >= 0 for r in rows)


def test_sheet_wider_data_rows_than_header(spark):
    """The Sheets API trims trailing empty cells per row, so a header with
    a trailing blank arrives SHORTER than its data rows — those columns
    must not silently vanish."""
    from bi_gcp_stitch_repl_spark.sources.sheets import sheet_to_dataframe

    values = [["name", "city"], ["a", "b", "2024"], ["c", "d"]]
    df = sheet_to_dataframe(spark, values, drop_empty_cols=False)
    assert df.columns == ["name", "city", "_c2"]
    rows = {r["name"]: r for r in df.collect()}
    assert rows["a"]["_c2"] == "2024" and rows["c"]["_c2"] is None
    # with drop_empty_cols (default) the unnamed pad column drops cleanly
    assert sheet_to_dataframe(spark, values).columns == ["name", "city"]


def test_append_only_delta_null_keys_append_once(spark):
    """A NULL-key row must stop matching as 'absent from history' after it
    lands — the equi-join never matched NULL=NULL, re-appending one
    duplicate per run, unbounded."""
    from bi_gcp_stitch_repl_spark.ops.history import append_only_delta

    snap = spark.createDataFrame(
        [(1, "open"), (2, None)], "id long, status string"
    )
    empty = snap.limit(0)
    first = append_only_delta(snap, empty, ["id", "status"])
    assert first.count() == 2  # both rows new, NULL included
    second = append_only_delta(snap, first, ["id", "status"])
    assert second.count() == 0  # NULL-key row matched its history twin


def test_latest_per_key_default_tiebreak_skips_map_columns(spark):
    """The default tiebreak list must work on frames carrying map columns
    (property bags) — maps are unorderable and used to fail analysis."""
    from bi_gcp_stitch_repl_spark.ops.history import latest_per_key

    df = spark.createDataFrame(
        [(1, 2, {"k": "v"}), (1, 1, {"k": "w"})],
        "id long, ts long, props map<string,string>",
    )
    out = latest_per_key(df, ["id"], "ts").collect()
    assert len(out) == 1 and out[0]["ts"] == 2


def test_pad_columns_resolves_literal_dotted_names(spark):
    """flatten_structs emits LITERAL dotted names; pad_columns must select
    them as columns, not parse them as struct paths."""
    from bi_gcp_stitch_repl_spark.ops.normalize import flatten_structs, pad_columns

    df = spark.createDataFrame([((1,),)], "a struct<b int>")
    flat = flatten_structs(df)
    assert flat.columns == ["a.b"]
    out = pad_columns(flat, [("a.b", "int"), ("missing", "string")])
    assert out.columns == ["a.b", "missing"]
    assert out.collect()[0]["a.b"] == 1


def test_explode_with_parent_elem_alias_guard(spark):
    """A parent alias of '_elem' must raise up front (it shadows the
    exploded-element working column); a CHILD field named '_elem' is
    harmless and must NOT raise."""
    import pytest as _pytest

    from bi_gcp_stitch_repl_spark.ops.normalize import explode_with_parent

    df = spark.createDataFrame(
        [(7, [(1,)])], "x long, items array<struct<_elem int>>"
    )
    out = explode_with_parent(df, "items", {"x": "parent_x"})
    assert set(out.columns) == {"parent_x", "_elem"}
    with _pytest.raises(ValueError, match="_elem"):
        explode_with_parent(df, "items", {"x": "_elem"})


def test_append_only_delta_shared_lineage_self_join(spark):
    """history derived from the SAME plan as snapshot (a filter over it)
    must still anti-join correctly: with the condition built from raw
    frame attributes, Spark can bind both sides to one attribute
    (trivially-true predicate / AMBIGUOUS_SELF_JOIN) and anti-join away
    the whole batch — the aliased condition keeps the sides distinct."""
    from bi_gcp_stitch_repl_spark.ops.history import append_only_delta

    snap = spark.createDataFrame(
        [(1, "open"), (2, "open"), (3, "closed")], "id long, status string"
    )
    hist = snap.filter("status = 'open'")  # shared lineage, same attrs
    out = append_only_delta(snap, hist, ["id", "status"])
    assert [r["id"] for r in out.collect()] == [3]
