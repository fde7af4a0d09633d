"""Driver-local dispatch seam for small aggregated inputs.

Many operators run a Python kernel on the driver when their input is
small (a nation-pair edge aggregate, a vocabulary table) and a
distributed loop otherwise. This module owns that decision, with one
size bound, :data:`DRIVER_ROWS`, and one helper, :func:`driver_path`,
that runs the whole chain — pin, probe, kernel, emit, release — or
hands the pinned input back for the distributed spelling:

- the probe primitives (:func:`probe_rows`, :func:`distinct_probe_rows`,
  :func:`is_local_plan`) decide the path in at most one job;
- :func:`local_df` emits a driver-path result and
  :func:`free_local_checkpoint` releases a superseded checkpoint;
- :func:`weighted_edges` canonicalizes and probes a weighted edge list
  for the graph operators, in a Python and a SQL spelling that agree
  row for row;
- :func:`weight_guard` checks the canonical weights over rows already
  in hand or in one aggregate job.
"""

from __future__ import annotations

import math
from collections import namedtuple
from functools import cached_property

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: VALUES-literal emission cutoff: the SQL parse cost crosses the
#: 1-slice-RDD emission cost at ~4-5k rows (measured, local[32]: noop of
#: a 2-col bigint frame — 0.105 vs 0.198 s at 1k rows, 0.202 vs 0.200 at
#: 5k, 0.383 vs 0.235 at 20k)
_VALUES_MAX_ROWS = 4096

#: the driver-path size bound: an input of at most this many rows runs
#: its operator's Python kernel on the driver, and a driver-path result
#: of at most this many rows is broadcast-hinted (~100k short rows is a
#: few MB framed — comfortably inside the executor build-side budget).
#: Read at call time; 0 sends every operator down its distributed path.
DRIVER_ROWS = 100_000

#: column types the VALUES literal renderer covers (simpleString -> SQL);
#: anything else (arrays, structs, timestamps) takes the RDD path
_VALUES_TYPES = {
    "bigint": "BIGINT",
    "int": "INT",
    "string": "STRING",
    "double": "DOUBLE",
    "boolean": "BOOLEAN",
}

#: dtypes whose PYTHON ordering/equality provably match Spark's
#: least/greatest/distinct/groupBy semantics on collected values
#: (integrals: numeric order; strings: Python compares by code point, and
#: Spark's UTF8String binary order preserves code-point order) — the
#: driver-path canonicalizations are gated on them; any other endpoint
#: type falls back to the distributed spelling (always correct).
PY_ORDERED_SIMPLE = {"tinyint", "smallint", "int", "bigint", "string"}


def _sql_literal(v, sql_type: str) -> str:
    """Render one Python value as an exact Spark SQL literal. Strings
    escape backslash and quote (the default parser processes backslash
    escapes); doubles go through repr(), which round-trips binary64
    exactly and is re-parsed by CAST with correct rounding — bit-exact
    both ways."""
    if v is None:
        return "NULL"
    if sql_type == "STRING":
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if sql_type == "DOUBLE":
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return f"CAST('{v!r}' AS DOUBLE)"
    if sql_type == "BOOLEAN":
        return "true" if v else "false"
    return str(v)


def local_df(spark, rows, schema):
    """Driver-path result emitter. Small simple-typed results embed as a
    ``VALUES`` literal — a pure-JVM ``LocalTableScan`` with ACCURATE
    stats: no Python-worker round-trip at execution (measured 0.157 →
    0.037 s for a 25-row noop; a downstream join picks the broadcast
    side from real sizes), at the price of SQL-text parse time that
    grows with the row count (crossover ~4-5k rows, see
    ``_VALUES_MAX_ROWS``).

    Larger or complex-typed results fall back to a ONE-slice RDD:
    ``createDataFrame`` on a plain list parallelizes into
    defaultParallelism slices — 32 near-empty tasks for a 25-row result,
    each paying a Python-worker round-trip, and every downstream
    operator schedules them all; the one-slice form measured 0.7-1.4 s →
    0.24-0.37 s for a 25-row noop write, 1.1-1.8 → 0.6-0.9 s at 100k
    rows. (NOT ``coalesce(1)``: a no-shuffle coalesce makes the single
    task evaluate all 32 parent Python slices SEQUENTIALLY — measured
    4.7 s for 25 rows.)

    The broadcast hint is gated on the ACTUAL row count in hand (not an
    estimate) against :data:`DRIVER_ROWS`: an RDD-backed frame has no
    stats, so the planner assumes it is huge — a consumer joining a
    25-row driver-path result to a dimension table got a two-Exchange
    sort-merge join (x_triangle_trade's measured plan). A result can
    outgrow the input it was computed from (walk corpora fan out past
    the bound routinely); beyond the bound it stays unhinted. The hint
    stays on the VALUES path too — same boundedness argument, zero-cost
    exchange."""
    st = (
        StructType.fromDDL(schema) if isinstance(schema, str) else schema
    )
    sql_types = [
        _VALUES_TYPES.get(f.dataType.simpleString()) for f in st.fields
    ]
    if 0 < len(rows) <= _VALUES_MAX_ROWS and all(sql_types):
        cols = ", ".join(
            f"CAST(c{i} AS {t}) AS `{f.name}`"
            for i, (f, t) in enumerate(zip(st.fields, sql_types))
        )
        tuples = ", ".join(
            "("
            + ", ".join(
                _sql_literal(row[i], t) for i, t in enumerate(sql_types)
            )
            + ")"
            for row in rows
        )
        alias = ", ".join(f"c{i}" for i in range(len(st.fields)))
        df = spark.sql(f"SELECT {cols} FROM VALUES {tuples} AS t({alias})")
    else:
        df = spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), st
        )
    return F.broadcast(df) if len(rows) <= DRIVER_ROWS else df


def probe_rows(df: DataFrame, cap: int | None = None) -> list | None:
    """ONE-job smallness probe: collect up to ``DRIVER_ROWS + 1`` rows
    (or ``cap + 1``, when a caller's kernel needs a smaller bound) of a
    (checkpointed) frame; return the row list when the frame fits — the
    caller then holds EVERY row and needs no further action on the
    frame — else None, without a job when the bound is 0. Replaces the
    ``count()``-then-``collect()`` pair the adaptive driver/distributed
    dispatch used to pay: each action is a full driver round-trip (a
    scheduled job), and on the driver path the count told us nothing
    the collect would not. The distributed branch still takes its exact
    counts as before — this probe only spends one job deciding, and its
    partial result is discarded there."""
    bound = DRIVER_ROWS if cap is None else min(cap, DRIVER_ROWS)
    if bound <= 0:
        return None
    rows = df.limit(bound + 1).collect()
    return rows if len(rows) <= bound else None


_NodeRow = namedtuple("_NodeRow", ["node"])


def distinct_probe_rows(proj: DataFrame) -> list | None:
    """Smallness probe of ``proj.distinct()`` for a ONE-column frame of
    a :data:`PY_ORDERED_SIMPLE` type: probe the RAW projection (a
    CollectLimit over the scan — limit short-circuits, no aggregate to
    plan, job-free on driver-local relations) and dedup in Python, where
    equality provably matches SQL distinct for these types (the engine
    applied any cast while executing/folding the projection). Probing
    ``distinct()`` itself was costing a 2-stage AQE plan + a ~0.2 s
    driver planning gap per graph query on a 25-row dimension scan
    (measured, x_pagerank_trade). A raw row count past the bound — the
    100 TB node frame — falls back to the ordinary one-job probe of the
    distinct frame, reading ~DRIVER_ROWS rows either way."""
    if proj.schema[0].dataType.simpleString() in PY_ORDERED_SIMPLE:
        raw = probe_rows(proj)
        if raw is not None:
            return [_NodeRow(v) for v in dict.fromkeys(r[0] for r in raw)]
    return probe_rows(proj.distinct())


def is_local_plan(df: DataFrame) -> bool:
    """True when the frame's optimized logical plan is a driver-local
    relation (VALUES literal / fully constant-folded) — collecting it
    schedules no job, so probe-style dispatches can skip the defensive
    checkpoint. Best-effort (py4j introspection): False on any doubt,
    which only costs the checkpoint job, never correctness."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        return plan.getClass().getName().endswith("LocalRelation")
    except Exception:  # noqa: BLE001 — conservative fallback
        return False


def free_local_checkpoint(df: DataFrame) -> None:
    """Best-effort release of a superseded ``localCheckpoint``'s storage
    blocks. A localCheckpoint() frame's plan is a ``LogicalRDD`` over the
    persisted internal RDD; unpersisting that RDD frees its blocks
    immediately instead of holding them until the context dies — on a
    deep iterative loop (k_core peel rounds) the superseded rounds would
    otherwise accumulate one retained RDD per round. JVM-internal
    accessor via py4j, so strictly best-effort: any failure leaves the
    blocks to normal GC (correctness never depends on the release —
    callers only free frames no longer referenced by any live plan)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def _pin(df: DataFrame) -> DataFrame:
    """``df`` materialized once for the probe and every later read: an
    eager ``localCheckpoint``, skipped when the plan is already a
    driver-local relation (:func:`is_local_plan`) — collecting that
    schedules no job, so the checkpoint would be the only one."""
    return df if is_local_plan(df) else df.localCheckpoint(eager=True)


def driver_path(df, kernel, schema, *, pin=True, cap=None):
    """The driver-path chain over one input frame: ``(out, frame)``.

    1. pin ``df`` (:func:`_pin`), unless ``pin=False`` says re-reading
       it is already cheap — a row-local projection (the probe's limit
       short-circuits the scan) or a frame its caller pinned;
    2. probe it at :data:`DRIVER_ROWS` (:func:`probe_rows`; ``cap``
       lowers the bound for a kernel that needs it);
    3. run ``kernel(rows)`` — it returns the result rows, or None to
       decline (the operator's NULL, overflow or domain guard);
    4. emit the rows with :func:`local_df` in ``schema`` and release the
       pin: ``(out, None)``;
    5. otherwise return ``(None, frame)``, the pinned input, for the
       distributed spelling (the caller releases it when done)."""
    frame = _pin(df) if pin else df
    rows = probe_rows(frame, cap)
    out = None if rows is None else kernel(rows)
    if out is None:
        return None, frame
    if frame is not df:
        free_local_checkpoint(frame)
    return local_df(df.sparkSession, out, schema), None


# -- canonical weighted edge lists (the graph operators' shared prologue) ---

_DRow = namedtuple("_DRow", ["src", "dst", "w"])
_URow = namedtuple("_URow", ["u", "v", "w"])


def canonical_rows(rows: list, how: str) -> list | None:
    """Python spelling of the canonical aggregate over raw ``(src, dst,
    w)`` rows, with SQL semantics: NULL endpoints drop, NULL weights are
    skipped and an all-NULL key aggregates to NULL.

    - ``"sum"``: one ``(src, dst, w)`` row per directed pair, weights
      summed;
    - ``"min"``: the same with self-loops dropped and the MINIMUM weight
      kept;
    - ``"und"``: one ``(u, v, w)`` row per undirected pair (u ≤ v, both
      directions' weights summed), self-loops dropped.

    Returns None when any summed key has Σ|w| ≥ 2^63. That bound does
    not depend on the order the engine adds in: below it no partial sum
    can leave BIGINT, so the engine's ANSI SUM cannot abort where Python
    succeeded; at or above it the caller takes the engine's spelling, so
    the default bound and ``DRIVER_ROWS = 0`` reach the same result or
    the same error."""
    agg: dict = {}
    mag: dict = {}
    for r in rows:
        a, b, w = r[0], r[1], r[2]
        if a is None or b is None or (how != "sum" and a == b):
            continue
        key = (a, b) if how != "und" or a <= b else (b, a)
        cur = agg.get(key)
        if w is None:
            agg[key] = cur
        elif how == "min":
            agg[key] = w if cur is None or w < cur else cur
        else:
            mag[key] = mag.get(key, 0) + abs(w)
            if mag[key] >= 2**63:
                return None
            agg[key] = w if cur is None else cur + w
    row = _URow if how == "und" else _DRow
    return [row(a, b, w) for (a, b), w in agg.items()]


class WeightedEdges:
    """One operator call's canonical weighted edge list.

    ``rows`` holds every canonical row when the driver kernel may run
    (the list fits the dispatch bound, no weight is NULL, every sum is
    int64-safe), else None. ``frame`` is the SQL spelling, eagerly
    checkpointed on first use — the distributed loop's input. ``plan``
    is the same spelling un-materialized (for schemas). ``nodes`` is the
    restriction frame the SQL spelling joined, if any."""

    def __init__(self, plan: DataFrame, nodes=None):
        self._canon, self._nodes = plan, nodes
        self.rows: list | None = None

    @cached_property
    def nodes(self) -> DataFrame | None:
        return self._nodes() if self._nodes is not None else None

    @cached_property
    def plan(self) -> DataFrame:
        plan = self._canon
        if self.nodes is not None:
            key, *extra = self.nodes.columns
            for end in ("u", "v"):
                plan = plan.join(
                    self.nodes.select(
                        F.col(key).alias(end),
                        *(F.col(c).alias(c + end) for c in extra),
                    ),
                    end,
                )
        return plan

    @cached_property
    def frame(self) -> DataFrame:
        return _pin(self.plan)

    def free(self) -> None:
        """Release the checkpoint if one was built."""
        if "frame" in self.__dict__:
            free_local_checkpoint(self.frame)


def weighted_edges(
    edges: DataFrame,
    how: str,
    node_type: str | None = None,
    nodes=None,
    probe: bool = True,
) -> WeightedEdges:
    """Canonicalize and probe a weighted edge list — the prologue every
    weighted graph operator shares. ``edges``' first three columns are
    ``(src, dst, weight)``; endpoints cast to ``node_type`` (kept as-is
    when None), weights to BIGINT. ``how`` picks the aggregate (see
    :func:`canonical_rows`).

    ``nodes`` (``"und"`` only) restricts both endpoints to a node frame:
    a zero-argument callable returning a frame whose first column is the
    node key; every further column rides along per endpoint, suffixed
    ``u`` / ``v``. Only the SQL spelling joins it, and only on first use
    (:attr:`WeightedEdges.nodes`), so a caller whose restriction is a
    checkpoint pays for it only off the local path. The Python spelling
    returns unrestricted rows: restricting after the aggregate drops the
    same keys, and the caller's kernel holds the node rows.

    Dispatch (no job at all for a driver-local input):

    1. a driver-built local relation (a VALUES edge aggregate) collects
       job-free and canonicalizes in Python (:func:`canonical_rows`) —
       no aggregate exchange, checkpoint or probe;
    2. otherwise the SQL spelling is checkpointed once (the upstream
       derivation is the expensive part and every later action reads
       it) and probed with :func:`probe_rows`.

    Rows with a NULL weight (an all-NULL key) leave ``rows`` None: the
    engine's NULL-skipping MIN/SUM define that case, so it takes the
    distributed spelling. ``probe=False`` (a caller whose other input
    already failed its probe) or ``DRIVER_ROWS = 0`` skips both steps."""
    src, dst, w = edges.columns[:3]

    def end(c):
        return F.col(c).cast(node_type) if node_type else F.col(c)

    ecast = edges.select(
        end(src).alias("src"), end(dst).alias("dst"),
        F.col(w).cast("long").alias("w"),
    )
    agg = F.min if how == "min" else F.sum
    if how == "und":
        canon = (
            ecast.select(
                F.least("src", "dst").alias("u"),
                F.greatest("src", "dst").alias("v"),
                "w",
            )
            .filter(
                F.col("u").isNotNull()
                & F.col("v").isNotNull()
                & (F.col("u") != F.col("v"))
            )
            .groupBy("u", "v")
        )
    else:
        keep = F.col("src").isNotNull() & F.col("dst").isNotNull()
        if how == "min":
            keep = keep & (F.col("src") != F.col("dst"))
        canon = ecast.filter(keep).groupBy("src", "dst")
    ew = WeightedEdges(canon.agg(agg("w").alias("w")), nodes)
    if not probe or DRIVER_ROWS <= 0:
        return ew
    if is_local_plan(ecast) and all(
        f.dataType.simpleString() in PY_ORDERED_SIMPLE
        for f in ecast.schema.fields[:2]
    ):
        raw = probe_rows(ecast)
        if raw is not None:
            ew.rows = canonical_rows(raw, how)
    if ew.rows is None:
        ew.rows = probe_rows(ew.frame)
    if ew.rows is not None and any(r.w is None for r in ew.rows):
        ew.rows = None
    return ew


WeightStats = namedtuple("WeightStats", ["mn", "mx", "tw"])


def weight_guard(ew: WeightedEdges, rows: list | None) -> WeightStats:
    """Minimum, maximum and total of the canonical weights — over
    ``rows`` when in hand (``ew.rows``, or the caller's restriction of
    them), else ONE aggregate job over ``ew.frame``
    (NULL weights skipped; all None when there is no weight). The total
    is exact (a DECIMAL(38,0) sum), so a caller's overflow check fires
    as a ValueError on both paths instead of an ANSI abort on one.
    Raises on a non-positive weight: Python ``//`` floors while Spark
    ``DIV`` truncates toward zero, and the shortest-path and fixed-point
    loops all assume positive weights."""
    if rows is not None:
        ws = [r.w for r in rows]
        st = WeightStats(
            min(ws, default=None), max(ws, default=None),
            sum(ws) if ws else None,
        )
    else:
        st = WeightStats(
            *ew.frame.agg(
                F.min("w"), F.max("w"),
                F.sum(F.col("w").cast("decimal(38,0)")),
            ).first()
        )
        st = st._replace(tw=None if st.tw is None else int(st.tw))
    if st.mn is not None and st.mn <= 0:
        raise ValueError(f"edge weights must be positive (min={st.mn})")
    return st
