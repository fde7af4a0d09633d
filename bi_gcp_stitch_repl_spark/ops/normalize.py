"""Nested-JSON normalization: the reference's transform workhorse.

The reference normalizes API payloads with hand loops and
``pd.json_normalize``; the Spark re-expressions here are pure Catalyst
expressions (no Python row functions — SURVEY.md §2.11 rule):

- ``explode_with_parent`` — 1 parent row -> N child rows carrying chosen
  parent columns (reference ``extract_positions_from_order``,
  ``dags/bexio/bexio_invoice_and_line_items_de.py:221-234``;
  ``dags/lex_office/lex_office_invoice_items.py:223-246``;
  ``dags/billwerk/biilwerk_invoices_line_items.py:113-137``; SURVEY F22/J7).
- ``flatten_structs`` — recursive struct star-expansion with dotted-name
  columns (reference ``pd.json_normalize(..., max_level=N)``,
  ``dags/hubspot/churn_reasons/churn_reasons.py:68``,
  ``dags/stripe/stripe_charges.py:62``; SURVEY F24).
- ``pad_columns`` — add missing columns as typed NULLs to meet a required
  schema (reference ``required_columns`` loop,
  ``dags/billwerk/biilwerk_customers.py:153-161``; SURVEY §1.3).

All of these are narrow (no shuffle); explode multiplies row count, which at
100 TB argues for exploding *after* pushing every parent-level filter down —
Catalyst does not move a filter across an explode on its own when it touches
generated columns, so pipelines here filter first by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def explode_with_parent(
    df: DataFrame,
    array_col: str,
    parent_cols: dict[str, str] | list[str],
    keep_empty: bool = False,
) -> DataFrame:
    """Explode ``array_col`` (array<struct>) into one row per element, carrying
    the given parent columns alongside each element's fields.

    ``parent_cols`` is either a list of names or a {source: alias} mapping
    (the reference renames ``id`` -> ``invoice_id`` while attaching).
    ``keep_empty=True`` keeps parents with NULL/empty arrays (one row of NULL
    child fields) — ``explode_outer`` semantics.

    Parent ALIASES must not collide with the element struct's field names
    — enforced loudly: header and line-item payloads commonly both carry
    ``id`` (bexio does), and silently emitting two ``id`` columns defers
    the failure to the first downstream select as AMBIGUOUS_REFERENCE.
    Alias the parent (``{"id": "invoice_id"}``) exactly as the reference
    did.
    """
    if isinstance(parent_cols, list):
        parent_cols = {c: c for c in parent_cols}
    elem_type = df.schema[array_col].dataType.elementType
    child_fields = (
        {f.name for f in elem_type.fields}
        if isinstance(elem_type, T.StructType)
        else set()
    )
    clash = set(parent_cols.values()) & child_fields
    if clash:
        raise ValueError(
            f"parent aliases collide with element fields of {array_col!r}: "
            f"{sorted(clash)} — alias the parent columns "
            '(e.g. {"id": "invoice_id"})'
        )
    # '_elem' is the exploded-element working name: a parent ALIAS (not a
    # child field — a child field named _elem is harmless) shadowing it
    # makes the intermediate select emit two '_elem' columns and defers
    # the failure to the final select as AMBIGUOUS_REFERENCE
    if "_elem" in parent_cols.values():
        raise ValueError(
            "parent alias '_elem' collides with the exploded-element "
            "working column — pick another alias"
        )
    exploder = F.explode_outer if keep_empty else F.explode
    parents = [F.col(src).alias(dst) for src, dst in parent_cols.items()]
    exploded = df.select(*parents, exploder(F.col(array_col)).alias("_elem"))
    return exploded.select(*parent_cols.values(), "_elem.*")


def flatten_structs(df: DataFrame, max_level: int = 5, sep: str = ".") -> DataFrame:
    """Recursively star-expand struct columns into dotted leaf columns.

    Equivalent to ``pd.json_normalize(payload, max_level=max_level)``: a
    column ``a: struct<b: struct<c: int>>`` becomes ``a.b.c`` (literal dot in
    the name, as the reference's rename maps expect —
    ``dags/hubspot/churn_reasons/churn_reasons.py:73-98``). Arrays are left
    intact (explode is a separate, row-multiplying decision).
    """
    def leaves(schema: T.StructType, prefix: str, level: int) -> list[Column]:
        cols: list[Column] = []
        for field in schema.fields:
            qualified = f"{prefix}.`{field.name}`" if prefix else f"`{field.name}`"
            if isinstance(field.dataType, T.StructType) and level < max_level:
                cols.extend(leaves(field.dataType, qualified, level + 1))
            else:
                cols.append(F.col(qualified).alias(_dotted(qualified, sep)))
        return cols

    def _dotted(qualified: str, sep: str) -> str:
        return qualified.replace("`", "").replace(".", sep)

    return df.select(*leaves(df.schema, "", 1))


def pad_columns(df: DataFrame, required: list[tuple[str, str]]) -> DataFrame:
    """Ensure every (name, sparkTypeDDL) in ``required`` exists; missing ones
    are added as typed NULL. Output column order follows ``required`` exactly
    (the reference's ``desired_order`` contract, SURVEY P1)."""
    present = set(df.columns)
    # backtick-quoted, not bare F.col(name): flatten_structs (this
    # module) produces LITERAL dotted column names, which an unquoted
    # reference parses as struct access — unresolvable, or silently the
    # WRONG data when a same-named struct also exists (flatten cut off
    # by max_level)
    cols = [
        _lit_col(name) if name in present
        else F.lit(None).cast(dtype).alias(name)
        for name, dtype in required
    ]
    return df.select(*cols)


def _lit_col(name: str) -> Column:
    """Column reference treating ``name`` as ONE literal column name
    (dots and all), never a struct path."""
    return F.col("`" + name.replace("`", "``") + "`")
