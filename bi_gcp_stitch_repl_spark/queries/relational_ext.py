"""Beyond-reference relational operators: as-of join, banded range join,
connected-components dup clustering.

SURVEY.md §2.4 records these as absent from the reference; they are the
joins/closures a 100 TB event-and-documents platform cannot run without,
so the engine supplies them as first-class, oracle-checked operators:

* as-of join — point-in-time enrichment ("state as of event time"), the
  scalable replacement for correlated `ts <= x ORDER BY ts DESC LIMIT 1`
  subqueries;
* banded range join — proximity joins without the cross-join explosion;
* connected components — near-dup PAIRS → dup CLUSTERS transitive
  closure (pairs alone under-merge: A~B, B~C must collapse to one group).

Determinism follows the catalog rules (unique tiebreakers everywhere;
counts/mins only — no order-dependent double sums).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.graph import connected_components
from ..ops.asof import asof_join
from ..ops.rangejoin import band_join
from .catalog import register, tables
from .extensions import _minhash_lsh_duck, x_minhash_lsh_candidates


@register(
    "x_asof_join",
    oracle="""
WITH p AS (
  SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'
), ranked AS (
  SELECT e.event_id, e.user_id, e.ts, e.event_type,
         p.event_id AS last_purchase_id, p.value AS last_purchase_value,
         ROW_NUMBER() OVER (PARTITION BY e.event_id
                            ORDER BY p.ts DESC, p.event_id DESC) AS rn
  FROM events e LEFT JOIN p
    ON p.user_id = e.user_id
   AND (p.ts < e.ts OR (p.ts = e.ts AND p.event_id < e.event_id))
)
SELECT event_id, user_id, ts, event_type, last_purchase_id, last_purchase_value
FROM ranked WHERE rn = 1
""",
)
def x_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment: each event carries the same user's most
    recent strictly-earlier purchase (id + value). ops.asof.asof_join is
    the union→window formulation: ONE shuffle on user_id, no row
    explosion — the oracle's ranked left join is the O(events × purchases
    per user) semantics it replaces. Strict ordering on (ts, event_id)
    keeps ties deterministic."""
    (e,) = tables(spark, sf_dir, "events")
    left = e.select("event_id", "user_id", "ts", "event_type")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    return asof_join(
        left,
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        left_tiebreak="event_id",
        right_tiebreak="event_id",
        strict=True,
        payload={"last_purchase_id": "event_id", "last_purchase_value": "value"},
    )


@register(
    "x_set_ops",
    oracle="""
WITH active AS (SELECT DISTINCT o_custkey AS c FROM orders
                WHERE o_orderdate >= DATE '1998-01-01'),
earlier AS (SELECT DISTINCT o_custkey AS c FROM orders
            WHERE o_orderdate < DATE '1998-01-01')
SELECT 'retained' AS cohort, c AS o_custkey FROM (SELECT c FROM active INTERSECT SELECT c FROM earlier)
UNION ALL
SELECT 'new', c FROM (SELECT c FROM active EXCEPT SELECT c FROM earlier)
UNION ALL
SELECT 'churned', c FROM (SELECT c FROM earlier EXCEPT SELECT c FROM active)
""",
)
def x_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT as first-class operators (the reference only ever
    spelled them as anti-joins — SURVEY §2.8): customer churn triptych
    between two periods. Spark plans both as hash aggregations + joins on
    the same key, so the three legs share one partitioning; distinct
    semantics (not EXCEPT ALL) keep the result set-typed."""
    (o,) = tables(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01").cast("date")
    active = o.filter(F.col("o_orderdate") >= cut).select("o_custkey").distinct()
    earlier = o.filter(F.col("o_orderdate") < cut).select("o_custkey").distinct()
    lit = lambda s: F.lit(s).alias("cohort")  # noqa: E731
    # subtract = EXCEPT (distinct), matching the documented set-typed
    # contract directly; exceptAll would only be equivalent while the
    # inputs stay pre-distinct, a refactor-fragile coincidence
    return (
        active.intersect(earlier).select(lit("retained"), "o_custkey")
        .unionByName(active.subtract(earlier).select(lit("new"), "o_custkey"))
        .unionByName(earlier.subtract(active).select(lit("churned"), "o_custkey"))
    )


@register(
    "x_pivot_status_by_year",
    oracle="""
SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending
FROM orders GROUP BY 1
""",
)
def x_pivot_status_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit pivot: order counts by year × status as wide columns, via
    DataFrame.pivot with the value list PINNED — an unpinned pivot runs an
    extra distinct-values job and makes the output schema data-dependent,
    both wrong at scale. One shuffle on the group key; the pivot itself is
    a map-side conditional aggregation (exactly the oracle's CASE sums)."""
    (o,) = tables(spark, sf_dir, "orders")
    wide = (
        o.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
    )
    return wide.select(
        "o_year",
        F.coalesce("O", F.lit(0)).alias("n_open"),
        F.coalesce("F", F.lit(0)).alias("n_filled"),
        F.coalesce("P", F.lit(0)).alias("n_pending"),
    )


@register(
    "x_unpivot_status",
    oracle="""
WITH wide AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
         CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
         CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending
  FROM orders GROUP BY 1
)
SELECT o_year, status, n FROM wide
UNPIVOT (n FOR status IN (n_open, n_filled, n_pending))
""",
)
def x_unpivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) the wide pivot back to tall (year, status, n) with
    DataFrame.unpivot — generator-style, zero shuffle beyond the upstream
    aggregation. Round-trips x_pivot_status_by_year, which is the usual
    reshaping pair a BI layer needs in both directions."""
    wide = x_pivot_status_by_year(spark, sf_dir)
    return wide.unpivot(
        ids=["o_year"],
        values=["n_open", "n_filled", "n_pending"],
        variableColumnName="status",
        valueColumnName="n",
    )


@register(
    "x_dq_report",
    oracle="""
SELECT 'not_null:o_orderdate' AS check,
       CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations,
       SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) = 0 AS passed
FROM orders
UNION ALL
SELECT 'accepted_values:o_orderstatus',
       CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                       OR o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                  OR o_orderstatus IS NULL THEN 1 ELSE 0 END) = 0
FROM orders
UNION ALL
SELECT 'between:o_totalprice',
       CAST(SUM(CASE WHEN o_totalprice NOT BETWEEN 0 AND 400000
                       OR o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN o_totalprice NOT BETWEEN 0 AND 400000
                  OR o_totalprice IS NULL THEN 1 ELSE 0 END) = 0
FROM orders
UNION ALL
SELECT 'unique:o_orderkey',
       CAST(COALESCE(SUM(n - 1), 0) AS BIGINT),
       COALESCE(SUM(n - 1), 0) = 0
FROM (SELECT o_orderkey, COUNT(*) AS n FROM orders GROUP BY 1 HAVING COUNT(*) > 1)
UNION ALL
SELECT 'fk:o_custkey',
       CAST(COUNT(*) AS BIGINT), COUNT(*) = 0
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL
""",
)
def x_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate (ops.validate.Expectations) over the orders load:
    null/domain/range checks fused into ONE aggregation pass over one
    scan, uniqueness as one groupBy, referential integrity to customer as
    one anti-join (parent keys broadcast at dim size). The report is what
    a pre-merge quarantine decision reads; the reference loaded with
    autodetect and no checks at all (SURVEY §1.3). between:o_totalprice
    deliberately uses a bound (400k) the data exceeds, so the report
    exercises the failing path too."""
    from ..ops.validate import Expectations

    orders, customer = tables(spark, sf_dir, "orders", "customer")
    return (
        Expectations(orders)
        .expect_not_null("o_orderdate")
        .expect_accepted_values("o_orderstatus", ["O", "F", "P"])
        .expect_between("o_totalprice", 0, 400_000)
        .expect_unique("o_orderkey")
        .expect_fk(["o_custkey"], customer, ["c_custkey"])
        .report()
    )


@register(
    "x_scd2_intervals",
    oracle="""
SELECT user_id, event_type AS status, ts AS valid_from, event_id,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         AS is_current
FROM events
""",
)
def x_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 materialization: turn the append-only change log into validity
    intervals — each row valid from its own timestamp until the key's next
    change (NULL = current). One window per key (single shuffle on
    user_id); with the warehouse table hive-partitioned on the key's hash
    range this runs partition-local. The interval table is what the as-of
    join (x_asof_join) replaces at query time; materializing it is the
    other half of the point-in-time story. Reference: the K7 history
    tables (SURVEY §2.2) only append — this derives their query-side
    interval view. Tiebreak on event_id keeps equal timestamps total."""
    (e,) = tables(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return e.select(
        "user_id",
        F.col("event_type").alias("status"),
        F.col("ts").alias("valid_from"),
        "event_id",
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


RANGE_TOLERANCE_US = 60_000_000  # ±60 s proximity band


@register(
    "x_range_join_density",
    oracle=f"""
SELECT e.event_id, e.ts, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_neighbors
FROM events e LEFT JOIN (
  SELECT a.event_id, COUNT(*) AS n
  FROM events a JOIN events b
    ON b.event_id <> a.event_id
   AND abs(epoch_us(b.ts) - epoch_us(a.ts)) <= {RANGE_TOLERANCE_US}
  GROUP BY a.event_id
) c USING (event_id)
""",
)
def x_range_join_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal proximity density: for every event, how many other events
    (any user) landed within ±60 s. ops.rangejoin.band_join buckets both
    sides by 60 s and probes 3 buckets per row — an equi-join whose cost
    tracks true pair density, vs the oracle's nested-loop inequality join
    (what Spark would plan as BroadcastNestedLoop from the naive SQL)."""
    (e,) = tables(spark, sf_dir, "events")
    pts = e.select("event_id", F.unix_micros("ts").alias("us"))
    left = pts.select(F.col("event_id").alias("l_id"), F.col("us").alias("l_us"))
    right = pts.select(F.col("event_id").alias("r_id"), F.col("us").alias("r_us"))
    pairs = band_join(left, right, "l_us", "r_us", RANGE_TOLERANCE_US).filter(
        F.col("l_id") != F.col("r_id")
    )
    counts = pairs.groupBy("l_id").agg(F.count("*").alias("n"))
    return (
        e.select("event_id", "ts")
        .join(counts, F.col("event_id") == F.col("l_id"), "left")
        .select(
            "event_id",
            "ts",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_neighbors"),
        )
    )


@register(
    "x_dedup_clusters",
    oracle=f"""
WITH RECURSIVE pairs AS (
  {_minhash_lsh_duck()}
), edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
), reach(u, v) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
), labels AS (
  SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u
)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM labels
""",
)
def x_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: transitive closure over the MinHash-LSH
    candidate pairs via alternating large-star/small-star connected
    components (functions.graph) — O(log n) rounds of pure groupBy+join,
    no driver-side graph. cluster_id = min doc_id of the group (the
    keep-representative); singletons (no near-dup) label themselves. The
    oracle is a recursive-CTE closure over the identical pair list."""
    (docs,) = tables(spark, sf_dir, "documents")
    pairs = x_minhash_lsh_candidates(spark, sf_dir)
    labels = connected_components(pairs, nodes=docs.select("doc_id"))
    out = labels.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    # The label plan (edge-derived labels ∪ singleton anti-join over the
    # corpus id set) feeds BOTH the output and the size aggregate below;
    # without a cut it executes twice — including a second corpus-id
    # scan+distinct for the singleton branch. One materialization of the
    # (id, cluster) table — 2 narrow columns, the same data the size
    # join must shuffle anyway — measured 2.2 s → 0.9 s for the
    # size-attach phase at sf0.1.
    out = out.localCheckpoint(eager=True)
    # cluster_size via aggregate + equi-join, NOT count() OVER
    # (PARTITION BY cluster_id): a boilerplate-heavy corpus yields one
    # giant component, and the unordered window would drag most of the
    # labels table into a single task; the groupBy is map-side
    # partial-aggregated and the join is AQE-skew-splittable
    sizes = out.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return out.join(sizes, "cluster_id").select(
        "doc_id", "cluster_id", "cluster_size"
    )


@register(
    "x_grouping_sets",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT)
         AS gid
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
)
def x_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS — the general form rollup (a7) and cube (a9) are
    special cases of: per-status totals, per-priority totals, and the
    grand total in ONE pass over orders (the hand-written alternative is
    three scans UNION ALLed). ``grouping_id`` disambiguates the NULLs that
    mark aggregated-away dimensions from genuine NULL data. Decimal-exact
    revenue at scale 2 (a grand total's scaled integer must stay under
    2^53: DuckDB's wide-decimal->double cast double-rounds above it, one
    of the few places the engines' float behavior can diverge); single
    expand+shuffle."""
    (o,) = tables(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("revenue"),
            F.grouping_id().alias("gid"),
        )
        .select(
            "o_orderstatus", "o_orderpriority", "n_orders", "revenue", "gid"
        )
    )


@register(
    "x_asof_nearest",
    oracle="""
WITH e AS (SELECT * FROM events WHERE event_type <> 'purchase'),
p AS (SELECT user_id, ts, event_id, value FROM events
      WHERE event_type = 'purchase'),
ranked AS (
  SELECT e.event_id, e.user_id, e.ts, e.event_type,
         p.event_id AS near_purchase_id, p.value AS near_purchase_value,
         ROW_NUMBER() OVER (PARTITION BY e.event_id ORDER BY
             abs(epoch(e.ts) - epoch(p.ts)),
             CASE WHEN p.ts < e.ts
                    OR (p.ts = e.ts AND p.event_id <= e.event_id)
                  THEN 0 ELSE 1 END,
             CASE WHEN p.ts < e.ts
                    OR (p.ts = e.ts AND p.event_id <= e.event_id)
                  THEN -p.event_id ELSE p.event_id END) AS rn
  FROM e LEFT JOIN p
    ON p.user_id = e.user_id AND abs(epoch(e.ts) - epoch(p.ts)) <= 1800
)
SELECT event_id, user_id, ts, event_type, near_purchase_id,
       near_purchase_value
FROM ranked WHERE rn = 1
""",
)
def x_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time enrichment (pandas merge_asof direction='nearest'):
    each non-purchase event carries the same user's closest purchase
    within ±30 minutes, backward-preferred on equal distance,
    lexicographic (ts, event_id) tiebreak. ops.asof.asof_join_nearest is
    the union→two-window formulation — ONE shuffle on user_id, a
    backward and a forward window pass over the same partitioning, no
    row explosion; the oracle's ranked interval left join is the
    O(events × purchases-per-user) semantics it replaces."""
    from ..ops.asof import asof_join_nearest

    (e,) = tables(spark, sf_dir, "events")
    left = e.filter(F.col("event_type") != "purchase").select(
        "event_id", "user_id", "ts", "event_type"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    return asof_join_nearest(
        left,
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        left_tiebreak="event_id",
        right_tiebreak="event_id",
        tolerance_sec=1800,
        payload={"near_purchase_id": "event_id", "near_purchase_value": "value"},
    )


_NAAJ_SQL = """
SELECT 'null_free' AS variant, COUNT(*) AS n FROM orders
WHERE o_custkey NOT IN (
  SELECT c_custkey FROM customer
  WHERE c_mktsegment = 'BUILDING' AND c_acctbal >= 0
)
UNION ALL
SELECT 'with_null' AS variant, COUNT(*) AS n FROM orders
WHERE o_custkey NOT IN (
  SELECT CASE WHEN c_acctbal < 0 THEN NULL ELSE c_custkey END
  FROM customer WHERE c_mktsegment = 'BUILDING'
)
"""


@register("x_null_aware_anti", oracle=_NAAJ_SQL)
def x_null_aware_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN with a NULLABLE subquery — the SQL edge every engine must
    pin: one NULL in the value list makes NOT IN three-valued (x NOT IN
    (..., NULL) is never TRUE, only FALSE or UNKNOWN). Two labeled
    branches make the rule bite in the output: the null-free list keeps
    the usual anti-join survivors, the NULL-poisoned list must count
    exactly 0 — a plain LEFT ANTI rewrite would return the same count
    for both and hash-mismatch. Spark plans the nullable branch as a
    null-aware anti join (broadcast single-key NAAJ). Expressed via
    spark.sql — the DataFrame API has no NOT IN; the catalog keeps the
    SQL form so Catalyst's decorrelation (not hand rewriting) is what is
    under test."""
    o, c = tables(spark, sf_dir, "orders", "customer")
    o.createOrReplaceTempView("orders")
    c.createOrReplaceTempView("customer")
    return spark.sql(_NAAJ_SQL)


@register(
    "x_string_agg",
    oracle="""
SELECT c_mktsegment,
       string_agg(c_name, ',' ORDER BY c_acctbal DESC, c_custkey) AS top_names
FROM (
  SELECT c_mktsegment, c_name, c_acctbal, c_custkey,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal DESC, c_custkey) AS rk
  FROM customer
) WHERE rk <= 5
GROUP BY 1
""",
)
def x_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/string_agg): the top-5 account
    names per market segment, comma-joined in rank order. Plain
    collect_list is partition-order NONDETERMINISTIC — the deterministic
    distributed form collects (sort-key, value) structs, sorts the
    per-group array, then projects + joins, giving exactly SQL's
    string_agg(... ORDER BY). Top-5 pre-filter bounds the collected
    array per group (never collect unbounded groups at scale); the
    pre-filter itself is TWO-LEVEL (top-5 per (segment, 64-way salt),
    then top-5 of the ≤320 survivors per segment) because a single
    window over the 5-value segment column would funnel the whole
    customer table into 5 unsplittable sort tasks — windows, unlike
    joins, get no AQE skew splitting. The salt is a pure function of the
    unique tiebreaker, so the survivor set provably contains every true
    top-5 row and the result is exactly the single-window answer."""
    (c,) = tables(spark, sf_dir, "customer")
    from pyspark.sql import Window

    from ..ops.skew import salted_topk

    top = salted_topk(
        c,
        partition_by=["c_mktsegment"],
        order_by=[F.desc("c_acctbal"), F.col("c_custkey")],
        k=5,
        salt_on="c_custkey",
    )
    return (
        top.groupBy("c_mktsegment")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        (-F.col("c_acctbal")).alias("k1"),
                        F.col("c_custkey").alias("k2"),
                        F.col("c_name").alias("v"),
                    )
                )
            ).alias("arr")
        )
        .select(
            "c_mktsegment",
            F.array_join(F.expr("transform(arr, x -> x.v)"), ",").alias("top_names"),
        )
    )


@register(
    "x_stats_battery",
    oracle="""
WITH m AS (
  SELECT o_orderstatus,
         COUNT(*) AS n,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s1,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))
             * CAST(o_totalprice AS DECIMAL(18,2))) AS s2,
         SUM(CAST(o_custkey AS DECIMAL(18,0))) AS sk,
         SUM(CAST(o_custkey AS DECIMAL(18,0))
             * CAST(o_custkey AS DECIMAL(18,0))) AS sk2,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))
             * CAST(o_custkey AS DECIMAL(18,0))) AS sxk
  FROM orders GROUP BY 1
)
SELECT o_orderstatus, n,
       CAST(s1 AS DOUBLE) / n AS mean_price,
       (CAST(FLOOR(s2) AS DOUBLE)
          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
         / (n - 1) AS var_price,
       sqrt((CAST(FLOOR(s2) AS DOUBLE)
               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
            / (n - 1)) AS stddev_price,
       (CAST(FLOOR(sxk) AS DOUBLE)
          - CAST(s1 AS DOUBLE) * CAST(sk AS DOUBLE) / n)
         / sqrt((CAST(FLOOR(s2) AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                * (CAST(FLOOR(sk2) AS DOUBLE)
                   - CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE) / n))
         AS corr_price_custkey
FROM m
""",
)
def x_stats_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed statistics with BIT-PORTABLE determinism: mean,
    sample variance/stddev, and Pearson correlation per order status,
    computed from EXACT decimal moment sums (n, Σx, Σx², Σxy) with the
    closed-form combination applied once in IEEE at the end. Spark's
    built-in stddev/corr use streaming merge formulas whose float
    rounding depends on partition boundaries — correct statistically,
    but not hash-comparable across engines or even across re-runs with
    different partitioning; the moment-sum form is both (2-decimal
    prices: products fit DECIMAL(38), sums exact). The shuffle carries
    six numbers per group."""
    (o,) = tables(spark, sf_dir, "orders")
    x = F.col("o_totalprice").cast("decimal(18,2)")
    k = F.col("o_custkey").cast("decimal(18,0)")
    m = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(k).alias("sk"),
        F.sum(k * k).alias("sk2"),
        F.sum(x * k).alias("sxk"),
    )
    n = F.col("n")
    # Product-moment sums quantize to INTEGRAL decimals before the double
    # conversion: a decimal whose SCALED integer exceeds 2^53 double-
    # rounds in DuckDB (int128 / 10^scale — two roundings) while Spark's
    # BigDecimal converts once, so the scale-4 product sums diverge by
    # ulps at sf0.1+ (caught by the sf0.1 sweep; x_grouping_sets hit the
    # same trap in round 2 session 2). floor() is identical in both
    # engines, the integral decimal converts in ONE correctly-rounded
    # step, and the dropped sub-unit fraction of a ~1e15 sum is
    # statistically invisible — but identically dropped on both sides.
    s1, s2 = F.col("s1").cast("double"), F.floor(F.col("s2")).cast("double")
    sk = F.col("sk").cast("double")
    sk2 = F.floor(F.col("sk2")).cast("double")
    sxk = F.floor(F.col("sxk")).cast("double")
    var_ = (s2 - s1 * s1 / n) / (n - 1)
    corr = (sxk - s1 * sk / n) / F.sqrt(
        (s2 - s1 * s1 / n) * (sk2 - sk * sk / n)
    )
    return m.select(
        "o_orderstatus",
        "n",
        (s1 / n).alias("mean_price"),
        var_.alias("var_price"),
        F.sqrt(var_).alias("stddev_price"),
        corr.alias("corr_price_custkey"),
    )


@register(
    "x_benford_digits",
    oracle="""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
              1, 1) AS INT) AS digit
  FROM orders WHERE o_totalprice >= 1
),
tot AS (SELECT COUNT(*) AS n_total FROM d)
SELECT digit, COUNT(*) AS n,
       CAST(COUNT(*) AS DOUBLE) / t.n_total AS observed_freq,
       log10(1.0 + 1.0 / digit) AS benford_freq
FROM d CROSS JOIN tot t
GROUP BY digit, t.n_total
""",
)
def x_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit profile of order totals — the
    classic bulk-data forgery/DQ screen (synthetic or truncated amount
    columns diverge hard from log10(1+1/d)). The digit is extracted
    from the DECIMAL's canonical string form (identical across engines;
    float log10-based extraction is ulp-fragile at powers of ten), the
    9-row aggregate carries exact counts, and the 1-row total broadcasts
    onto it. Zero shuffle beyond the 9-key aggregate at any scale."""
    (o,) = tables(spark, sf_dir, "orders")
    d = o.filter(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    # one table scan: every row lands in exactly one digit group, so the
    # grand total is the SUM over the 9-row aggregate — a separate
    # d.agg(count) would be a second full pass over the fact table
    digits = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = digits.agg(F.sum("n").alias("n_total"))
    return (
        digits
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            (F.col("n").cast("double") / F.col("n_total")).alias("observed_freq"),
            F.log10(1.0 + 1.0 / F.col("digit")).alias("benford_freq"),
        )
    )


# ---------------------------------------------------------------------------
# Fixed-point PageRank (deterministic iterative graph centrality)
# ---------------------------------------------------------------------------

PR_ITER = 4
PR_SCALE = 10**12
PR_FRAC = 10**6


def pagerank_iter_ctes(n_iter: int) -> str:
    """The ``n_iter`` chained (contrib, dangling, rank) iteration-CTE
    triples of the unrolled fixed-point PageRank twin — shared by every
    PageRank-backed oracle (x_pagerank_trade's trade graph, queries/web's
    x_rank_domains domain graph). Requires the caller's WITH chain to have
    already defined ``frac`` (src, dst, frac), ``nodes`` (node),
    ``dangling`` (node), ``params`` (n, base) and ``r0`` (node, rank_fp);
    key type is free (BIGINT nation keys, VARCHAR domains). Every CTE is
    AS MATERIALIZED (inlined chains re-evaluate the whole prefix per
    reference; see the MMR oracle note). All arithmetic is BIGINT
    multiply / floor-divide / sum, so the two engines agree
    bit-for-bit."""
    steps = []
    for i in range(1, n_iter + 1):
        steps.append(f""",
c{i} AS MATERIALIZED (
  SELECT f.dst AS node, SUM((r.rank_fp * f.frac) // {PR_FRAC}) AS contrib
  FROM frac f JOIN r{i-1} r ON f.src = r.node GROUP BY 1
),
d{i} AS MATERIALIZED (
  SELECT COALESCE(SUM(r.rank_fp), 0) // (SELECT n FROM params) AS dmn
  FROM r{i-1} r JOIN dangling g ON r.node = g.node
),
r{i} AS MATERIALIZED (
  SELECT nd.node,
         p.base + ((85 * (COALESCE(c.contrib, 0) + d.dmn)) // 100) AS rank_fp
  FROM nodes nd
  LEFT JOIN c{i} c ON nd.node = c.node
  CROSS JOIN d{i} d CROSS JOIN params p
)""")
    return "".join(steps)


def _pagerank_oracle(n_iter: int) -> str:
    """Unrolled fixed-point PageRank twin: the aggregated trade graph, the
    per-source fractional out-weights, then the shared
    :func:`pagerank_iter_ctes` chain (refactor verified byte-identical on
    the evaluated oracle before x_rank_domains became the second
    consumer)."""
    head = f"""
WITH edges AS MATERIALIZED (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
),
nodes AS MATERIALIZED (SELECT n_nationkey AS node FROM nation),
params AS MATERIALIZED (
  SELECT COUNT(*) AS n,
         {PR_SCALE} // COUNT(*) AS init_fp,
         ({PR_SCALE} * 15) // (100 * COUNT(*)) AS base
  FROM nodes
),
tot AS (SELECT src, SUM(w) AS W FROM edges GROUP BY src),
frac AS MATERIALIZED (
  SELECT e.src, e.dst, (e.w * {PR_FRAC}) // t.W AS frac
  FROM edges e JOIN tot t USING (src)
),
dangling AS MATERIALIZED (
  SELECT node FROM nodes WHERE node NOT IN (SELECT DISTINCT src FROM frac)
),
r0 AS MATERIALIZED (
  SELECT node, p.init_fp AS rank_fp FROM nodes CROSS JOIN params p
)"""
    tail = f"""
SELECT n.n_name AS nation, CAST(r.rank_fp AS BIGINT) AS rank_fp
FROM r{n_iter} r JOIN nation n ON r.node = n.n_nationkey
"""
    return head + pagerank_iter_ctes(n_iter) + tail


@register("x_pagerank_trade", oracle=_pagerank_oracle(PR_ITER))
def x_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank trade centrality over the nation trade-flow
    graph (functions.graph.pagerank_fixedpoint): edges = supplier-nation
    → customer-nation shipment counts from the full
    lineitem⋈orders⋈customer⋈supplier derivation, 4 power iterations,
    damping 0.85.

    This is the catalog's iterative-graph slot: the float
    :func:`~bi_gcp_stitch_repl_spark.functions.graph.pagerank` stays a
    library function because IEEE contribution sums are partition-order-
    dependent; the fixed-point variant carries ranks as scaled BIGINTs
    (integer multiply / floor-divide / sum — order-independent), so the
    hash gate pins it bit-for-bit against the oracle's unrolled
    iteration chain.

    Scale shape: the expensive distributed work is the ONE aggregation
    of the fact join down to the ≤n_nations² edge list; loop-invariant
    frames (fractions, node set, dangling set) checkpoint once outside
    the loop, each iteration is a join + map-side-combinable sum on the
    aggregate, and dangling mass stays in-plan as a 1-row broadcast. On
    a corpus-scale graph (per-domain web links) the same function runs
    with edges partitioned on src — nothing here is nation-specific."""
    from ..functions.graph import pagerank_fixedpoint

    edges, nat = _trade_edge_frame(spark, sf_dir)
    ranks = pagerank_fixedpoint(
        edges, nat.select("n_nationkey"), n_iter=PR_ITER,
        scale=PR_SCALE, frac_scale=PR_FRAC,
    )
    return ranks.join(nat, ranks.node == nat.n_nationkey).select(
        F.col("n_name").alias("nation"), "rank_fp"
    )


PPR_SEED_REGION = "ASIA"


def ppr_iter_ctes(n_iter: int) -> str:
    """Seeded variant of :func:`pagerank_iter_ctes` for personalized
    PageRank oracles: identical contribution CTEs, but the dangling mass
    divides by |seeds| and the (base + damped-dangling) restart terms
    apply ONLY to seed rows (the teleport contract of
    ``pagerank_fixedpoint(teleport=...)``). Requires the caller's WITH
    chain to define ``frac``, ``nodes``, ``dangling``, ``seeds`` (node)
    and ``sparams`` (m, base) in addition to ``r0``. The shared uniform
    chain is untouched — its two existing consumers keep their evaluated
    oracles byte-identical."""
    steps = []
    for i in range(1, n_iter + 1):
        steps.append(f""",
c{i} AS MATERIALIZED (
  SELECT f.dst AS node, SUM((r.rank_fp * f.frac) // {PR_FRAC}) AS contrib
  FROM frac f JOIN r{i-1} r ON f.src = r.node GROUP BY 1
),
d{i} AS MATERIALIZED (
  SELECT COALESCE(SUM(r.rank_fp), 0) // (SELECT m FROM sparams) AS dmn
  FROM r{i-1} r JOIN dangling g ON r.node = g.node
),
r{i} AS MATERIALIZED (
  SELECT nd.node,
         CASE WHEN s.node IS NOT NULL
              THEN p.base + ((85 * (COALESCE(c.contrib, 0) + d.dmn)) // 100)
              ELSE (85 * COALESCE(c.contrib, 0)) // 100 END AS rank_fp
  FROM nodes nd
  LEFT JOIN seeds s ON nd.node = s.node
  LEFT JOIN c{i} c ON nd.node = c.node
  CROSS JOIN d{i} d CROSS JOIN sparams p
)""")
    return "".join(steps)


def _ppr_oracle(n_iter: int) -> str:
    head = f"""
WITH edges AS MATERIALIZED (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
),
nodes AS MATERIALIZED (SELECT n_nationkey AS node FROM nation),
seeds AS MATERIALIZED (
  SELECT n.n_nationkey AS node
  FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = '{PPR_SEED_REGION}'
),
params AS MATERIALIZED (
  SELECT COUNT(*) AS n, {PR_SCALE} // COUNT(*) AS init_fp FROM nodes
),
sparams AS MATERIALIZED (
  SELECT COUNT(*) AS m,
         ({PR_SCALE} * 15) // (100 * COUNT(*)) AS base
  FROM seeds
),
tot AS (SELECT src, SUM(w) AS W FROM edges GROUP BY src),
frac AS MATERIALIZED (
  SELECT e.src, e.dst, (e.w * {PR_FRAC}) // t.W AS frac
  FROM edges e JOIN tot t USING (src)
),
dangling AS MATERIALIZED (
  SELECT node FROM nodes WHERE node NOT IN (SELECT DISTINCT src FROM frac)
),
r0 AS MATERIALIZED (
  SELECT node, p.init_fp AS rank_fp FROM nodes CROSS JOIN params p
)"""
    tail = f"""
SELECT n.n_name AS nation, CAST(r.rank_fp AS BIGINT) AS rank_fp
FROM r{n_iter} r JOIN nation n ON r.node = n.n_nationkey
"""
    return head + ppr_iter_ctes(n_iter) + tail


@register("x_ppr_trade", oracle=_ppr_oracle(PR_ITER))
def x_ppr_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the ASIA seed set over the weighted
    trade graph (functions.graph.pagerank_fixedpoint(teleport=seeds)):
    restart mass and dangling redistribution land on the seeds only, so
    rank_fp measures proximity-weighted influence FROM the seed set —
    the crawl-seed-expansion / topic-conditioned-authority primitive
    (x_pagerank_trade answers "who matters globally"; this answers "who
    matters to MY trusted list"). Same integer fixed-point discipline:
    every operation is BIGINT multiply / floor-divide / sum, so the hash
    gate pins both physical paths against the seeded unrolled iteration
    chain (ppr_iter_ctes — the uniform pagerank_iter_ctes stays
    untouched, its two consumers byte-identical).

    Scale shape: identical to x_pagerank_trade — the fact-join
    aggregation is the one corpus exchange, the loop runs on the
    aggregate (driver fast path here, property-pinned bit-identical to
    the distributed loop), plus ONE extra semi-join to intersect the
    seed set with the node universe."""
    from ..functions.graph import pagerank_fixedpoint

    edges, nat = _trade_edge_frame(spark, sf_dir)
    region = tables(spark, sf_dir, "region")[0]
    seeds = (
        nat.join(region, nat.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == PPR_SEED_REGION)
        .select("n_nationkey")
    )
    ranks = pagerank_fixedpoint(
        edges, nat.select("n_nationkey"), n_iter=PR_ITER,
        scale=PR_SCALE, frac_scale=PR_FRAC, teleport=seeds,
    )
    return ranks.join(nat, ranks.node == nat.n_nationkey).select(
        F.col("n_name").alias("nation"), "rank_fp"
    )


@register(
    "x_triangle_trade",
    oracle="""
WITH e AS MATERIALIZED (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
),
und AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM e WHERE src <> dst
),
deg AS MATERIALIZED (
  SELECT node, COUNT(*) AS d FROM (
    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
  ) GROUP BY 1
),
o AS MATERIALIZED (
  SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND und.u < und.v)
              THEN und.u ELSE und.v END AS src,
         CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND und.u < und.v)
              THEN und.v ELSE und.u END AS dst
  FROM und JOIN deg du ON und.u = du.node JOIN deg dv ON und.v = dv.node
),
tri AS MATERIALIZED (
  SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
  FROM o ab
  JOIN o bc ON ab.dst = bc.src
  WHERE EXISTS (SELECT 1 FROM o ac WHERE ac.src = ab.src AND ac.dst = bc.dst)
),
cnt AS (
  SELECT node, COUNT(*) AS n FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b AS node FROM tri
    UNION ALL SELECT c AS node FROM tri
  ) GROUP BY 1
)
SELECT n.n_name AS nation, CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_triangles
FROM nation n LEFT JOIN cnt ON n.n_nationkey = cnt.node
""",
)
def x_triangle_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation triangle counts over the undirected simple trade graph
    (functions.graph.triangle_counts): the graph-cohesion twin of
    x_pagerank_trade — centrality says who matters, triangle density
    says whether a node's neighborhood is a clique (link-farm /
    community signal on a web-domain graph; here: trade-bloc tightness).

    Scale shape: the ONE expensive exchange is the fact-join aggregation
    to the ≤n² nation edge list (same derivation as x_pagerank_trade,
    paid once); triangle_counts then runs degree-ORIENTED wedge joins
    (Suri & Vassilvitskii — wedges root at each edge's LOW-degree
    endpoint, so a power-law hub generates almost no wedge candidates)
    on the aggregate, with the oriented edge frame checkpointed once for
    its three join reads. Integer counts end to end, so the hash gate
    pins the result bit-for-bit; nations in no triangle keep an explicit
    0 row (LEFT join the dimension) rather than vanishing."""
    from ..functions.graph import triangle_counts

    edges, nat = _trade_edge_frame(spark, sf_dir)
    tri = triangle_counts(edges)
    return nat.join(tri, nat.n_nationkey == tri.node, "left").select(
        F.col("n_name").alias("nation"),
        F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias(
            "n_triangles"
        ),
    )


# ---------------------------------------------------------------------------
# Shared trade-graph derivation for every trade-graph query (r12: the r9
# inline spellings in x_pagerank_trade / x_triangle_trade switched to the
# helper while both hold window slots — the VALUES fast path below is the
# round's shared-build optimization and must cover them too)
# ---------------------------------------------------------------------------


def _trade_edge_frame(spark: SparkSession, sf_dir: str):
    """``(edges(src, dst, w), nation)``: supplier nation → customer nation
    shipment counts from the full lineitem⋈orders⋈customer⋈supplier
    derivation — the ONE corpus exchange every trade-graph query pays.

    The aggregate is materialized HERE (one eager checkpoint — its
    output is bounded by |nations|² at any input scale) and, when it
    fits the dispatch bound, re-emitted as a VALUES local relation
    (optimization round 2): every downstream graph operator then probes
    it JOB-FREE and takes its fully-local fast path (sparsify / LPA /
    modularity / sssp / pagerank / hits / the unweighted graph
    operators), instead of each consumer paying its own re-aggregation
    exchange + checkpoint + probe jobs over a 625-row frame. Above the bound the
    checkpointed distributed frame returns unchanged — consumers keep
    their exact distributed shapes, now guaranteed to share the single
    materialization.

    Examined and REJECTED (r11 verdict #1, measured): pre-aggregating
    the lineitem side below the orders join — interleaved best-of-5 at
    sf0.1 measured 0.622 s (current) vs 0.761 s (pre-aggregated), every
    pair worse, because (orderkey, supplier-nation) is nearly unique per
    lineitem row on this data shape, so the extra exchange shrinks
    nothing and costs a full shuffle; the same row-count argument holds
    at 100 TB (suppkeys are ~unique within an order), where the added
    exchange would carry the whole fact table once more."""
    from ..functions.dispatch import driver_path

    li, orders, cust, supp, nat = tables(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    out, pinned = driver_path(
        edges, lambda rows: [tuple(r) for r in rows], edges.schema
    )
    return (pinned if out is None else out), nat


def _sparsify_mean_relative(
    edges: DataFrame, keep_weight: bool = False
) -> DataFrame:
    """Keep edges whose weight is ≥ NUM/DEN × the mean edge weight, as the
    BIGINT cross-multiplication ``w·n_edges·DEN >= total_w·NUM`` (no
    division, no floats — bit-portable); the scale-invariant sparsifier
    the k-core/BFS fixtures need (a fixed cutoff saturates: the sf0.01
    trade graph is complete even at w ≥ 20). The totals side is ONE row.
    ``keep_weight`` retains the surviving edges' weights (the weighted
    consumers: label propagation).

    The input aggregate is localCheckpoint()ed FIRST: the totals side
    and the filter side both read it, and without the pin each executed
    the whole upstream fact join — the job dump showed two concurrent
    32-task corpus scans per call (x_communities_trade build). The
    checkpointed frame is the POST-aggregation edge list (≤ |src|·|dst|
    distinct pairs), bounded far below the fact table at any scale.

    **Driver fast path** (the ``dispatch.driver_path`` dispatch,
    optimization round 1): when the checkpointed aggregate fits
    ``dispatch.DRIVER_ROWS`` rows — the probe rows ARE the aggregate — the
    totals and the filter run in exact Python integer arithmetic and the
    result embeds as a VALUES local relation, replacing the totals
    aggregate job + 1-row broadcast + filter planning with zero jobs
    beyond the probe (every downstream graph dispatch then probes the
    VALUES frame job-free). NULL weights drop on both paths (SQL: NULL
    comparison is false; SUM skips NULLs). The fast path is taken only
    when ``max|w|·n_edges·DEN < 2^63`` and ``|Σw|·NUM < 2^63`` — the
    EXACT int64 bounds on both cross-multiplications (the full-product
    bound dominates every intermediate, so nothing tighter is needed) —
    and only for all-nonnegative weights: with same-sign values every
    partial SUM is ≤ the guarded total, so the engine's partial
    aggregation provably cannot ANSI-abort where the Python total
    succeeded; mixed signs (or any bound breach) fall back to the
    distributed spelling so the engine's own overflow behavior rules."""
    from ..functions.dispatch import driver_path

    cols = ["src", "dst", "w"] if keep_weight else ["src", "dst"]

    def kernel(rows):
        ne = len(rows)
        ws = [r["w"] for r in rows]
        tw = sum(w for w in ws if w is not None)
        mx = max((abs(w) for w in ws if w is not None), default=0)
        if (
            mx * ne * KCORE_THR_DEN < 2**63
            and abs(tw) * KCORE_THR_NUM < 2**63
            and all(w is None or w >= 0 for w in ws)
        ):
            return [
                tuple(r[c] for c in cols)
                for r in rows
                if r["w"] is not None
                and r["w"] * ne * KCORE_THR_DEN >= tw * KCORE_THR_NUM
            ]
        return None

    # a driver-built VALUES input (the _trade_edge_frame fast path)
    # probes job-free — driver_path skips its defensive checkpoint
    out, edges = driver_path(edges, kernel, edges.select(*cols).schema)
    if out is not None:
        return out
    tot = edges.agg(F.sum("w").alias("tw"), F.count(F.lit(1)).alias("ne"))
    return (
        edges.crossJoin(F.broadcast(tot))
        .filter(
            F.col("w") * F.col("ne") * F.lit(KCORE_THR_DEN)
            >= F.col("tw") * F.lit(KCORE_THR_NUM)
        )
        .select(*cols)
    )


#: the sparsified undirected edge CTEs shared by the k-core and BFS oracles
#: (evaluated text identical in both — one spelling, two consumers)
_SPARSE_TRADE_CTES_HEAD = """
WITH e AS MATERIALIZED (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
),
m AS MATERIALIZED (SELECT SUM(w) AS tw, COUNT(*) AS ne FROM e),
u0 AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM e, m
  WHERE src <> dst AND w * m.ne * {den} >= m.tw * {num}
)"""


# ---------------------------------------------------------------------------
# HITS hubs/authorities (fixed-point, L1-normalized)
# ---------------------------------------------------------------------------

HITS_ITER = 4
HITS_SCALE = 10**6


def hits_iter_ctes(n_iter: int, scale: int) -> str:
    """The ``n_iter`` chained (auth-raw, auth-total, auth, hub-raw,
    hub-total, hub) CTE sextets of the unrolled fixed-point HITS twin —
    the pagerank_iter_ctes discipline applied to the two-score mutual
    recursion. Requires the caller's WITH chain to define ``eu``
    (src, dst, w — in-universe edges), ``nodes`` (node) and ``h0``
    (node, hub_fp). L1 normalization is an integer floor-divide by the
    round's raw sum (NULLIF-guarded: an all-zero side normalizes to
    zero); every CTE is AS MATERIALIZED."""
    steps = []
    for i in range(1, n_iter + 1):
        steps.append(f""",
ar{i} AS MATERIALIZED (
  SELECT e.dst AS node, SUM(h.hub_fp * e.w) AS raw
  FROM eu e JOIN h{i-1} h ON e.src = h.node GROUP BY 1
),
at{i} AS MATERIALIZED (SELECT COALESCE(SUM(raw), 0) AS t FROM ar{i}),
a{i} AS MATERIALIZED (
  SELECT nd.node,
         COALESCE((r.raw * {scale}) // NULLIF(t.t, 0), 0) AS auth_fp
  FROM nodes nd LEFT JOIN ar{i} r ON nd.node = r.node CROSS JOIN at{i} t
),
hr{i} AS MATERIALIZED (
  SELECT e.src AS node, SUM(a.auth_fp * e.w) AS raw
  FROM eu e JOIN a{i} a ON e.dst = a.node GROUP BY 1
),
ht{i} AS MATERIALIZED (SELECT COALESCE(SUM(raw), 0) AS t FROM hr{i}),
h{i} AS MATERIALIZED (
  SELECT nd.node,
         COALESCE((r.raw * {scale}) // NULLIF(t.t, 0), 0) AS hub_fp
  FROM nodes nd LEFT JOIN hr{i} r ON nd.node = r.node CROSS JOIN ht{i} t
)""")
    return "".join(steps)


def _hits_oracle(n_iter: int, scale: int) -> str:
    head = f"""
WITH edges AS MATERIALIZED (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
),
nodes AS MATERIALIZED (SELECT n_nationkey AS node FROM nation),
eu AS MATERIALIZED (
  SELECT e.src, e.dst, e.w FROM edges e
  JOIN nodes n1 ON e.src = n1.node
  JOIN nodes n2 ON e.dst = n2.node
),
params AS MATERIALIZED (
  SELECT COUNT(*) AS n, {scale} // COUNT(*) AS init_fp FROM nodes
),
h0 AS MATERIALIZED (
  SELECT node, p.init_fp AS hub_fp FROM nodes CROSS JOIN params p
)"""
    tail = f"""
SELECT n.n_name AS nation,
       CAST(h.hub_fp AS BIGINT) AS hub_fp,
       CAST(a.auth_fp AS BIGINT) AS auth_fp
FROM h{n_iter} h
JOIN a{n_iter} a USING (node)
JOIN nation n ON h.node = n.n_nationkey
"""
    return head + hits_iter_ctes(n_iter, scale) + tail


@register("x_hits_trade", oracle=_hits_oracle(HITS_ITER, HITS_SCALE))
def x_hits_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities over the DIRECTED weighted trade graph
    (functions.graph.hits_fixedpoint): supplier nation → customer nation
    shipment counts, 4 mutual-reinforcement rounds, scores as
    L1-normalized 1e6-scaled BIGINTs. The directional complement of
    x_pagerank_trade: hub_fp ranks exporter roles (out-links at strong
    importers), auth_fp ranks importer roles — on a crawl graph, link
    directories vs linked-to content, the two roles PageRank conflates.

    Integer multiply / floor-divide / sum end to end (L1 normalization,
    NOT the textbook L2 — power iteration is invariant to positive
    rescaling and an integer sum-divide is bit-portable where sqrt is
    not), so the hash gate pins both scores against the oracle's
    unrolled 6-CTE-per-round chain.

    Scale shape: the ONE corpus exchange is the fact-join aggregation to
    the ≤n² edge list (shared derivation with the other graph queries);
    loop-invariant frames (in-universe edges, node set) checkpoint once;
    each round is two hash joins + two map-side-combinable sums on the
    aggregate with the normalization totals as 1-row in-plan broadcasts;
    driver fast path below 100k edges, property-pinned bit-identical to
    the distributed loop."""
    from ..functions.graph import hits_fixedpoint

    edges, nat = _trade_edge_frame(spark, sf_dir)
    scores = hits_fixedpoint(
        edges, nat.select("n_nationkey"), n_iter=HITS_ITER, scale=HITS_SCALE
    )
    return scores.join(nat, scores.node == nat.n_nationkey).select(
        F.col("n_name").alias("nation"), "hub_fp", "auth_fp"
    )


# ---------------------------------------------------------------------------
# k-core decomposition + clustering coefficients (catalog twins of the
# round-9 library operators — r9 verdict #3)
# ---------------------------------------------------------------------------

KCORE_K = 4
KCORE_ROUNDS = 8  # unrolled oracle peel rounds; measured depth <= 3 at
#                   sf0.001/0.01/0.1 and extra rounds are no-ops at the
#                   fixpoint, so 8 is loud headroom, not tuning
#: relative edge filter: keep trade edges whose weight is >= 1.2x the MEAN
#: edge weight, written as the cross-multiplication
#: ``w * n_edges * DEN >= total_w * NUM`` — pure BIGINT products, no
#: division, so both engines agree bit-for-bit. A FIXED weight threshold
#: stops sparsifying as data grows (at sf0.01 the nation trade graph is
#: already complete even at w >= 20 — measured); the mean-relative form
#: keeps the same graph SHAPE at every scale, which is what makes the
#: unrolled-round oracle safe across SFs.
KCORE_THR_NUM, KCORE_THR_DEN = 12, 10


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled peel twin of functions.graph.k_core on the mean-relative
    sparsified trade graph: round ``i`` refilters the edge set by round
    ``i-1``'s degrees and recomputes degrees — exactly the distributed
    loop's (degree agg + two semi-joins), replayed as ``rounds`` chained
    CTE pairs (the pagerank_iter_ctes discipline). ``rounds`` exceeds the
    measured peel depth; past the fixpoint each extra round is an exact
    no-op, so the final round's survivors ARE the k-core."""
    head = _SPARSE_TRADE_CTES_HEAD.format(
        num=KCORE_THR_NUM, den=KCORE_THR_DEN
    ) + """,
d0 AS MATERIALIZED (
  SELECT node, COUNT(*) AS degree FROM (
    SELECT u AS node FROM u0 UNION ALL SELECT v AS node FROM u0
  ) GROUP BY 1
)"""
    steps = []
    for i in range(1, rounds + 1):
        steps.append(f""",
u{i} AS MATERIALIZED (
  SELECT x.u, x.v FROM u{i-1} x
  JOIN d{i-1} du ON x.u = du.node AND du.degree >= {k}
  JOIN d{i-1} dv ON x.v = dv.node AND dv.degree >= {k}
),
d{i} AS MATERIALIZED (
  SELECT node, COUNT(*) AS degree FROM (
    SELECT u AS node FROM u{i} UNION ALL SELECT v AS node FROM u{i}
  ) GROUP BY 1
)""")
    tail = f"""
SELECT n.n_name AS nation, CAST(d.degree AS BIGINT) AS degree
FROM d{rounds} d JOIN nation n ON d.node = n.n_nationkey
WHERE d.degree >= {k}
"""
    return head + "".join(steps) + tail


@register("x_kcore_trade", oracle=_kcore_oracle(KCORE_K, KCORE_ROUNDS))
def x_kcore_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the sparsified trade graph (functions.graph.k_core): keep
    only trade edges at least 1.2× the mean pair weight (the BIGINT
    cross-multiplied filter above — scale-invariant where a fixed cutoff
    saturates), then peel nodes of within-core degree < KCORE_K until the
    fixpoint — the density cut that isolates the tightly-interlinked
    trading bloc (on a web-domain graph: the link-farm survivor set).
    Members return with their WITHIN-core degrees; peeled nations are
    absent (the k_core contract — this query's k and threshold are sized
    so the core is non-empty AND the peel actually removes nodes at
    sf0.001/0.01/0.1, measured).

    Scale shape: the fact-join aggregation to the ≤n² edge list is the
    one corpus exchange (same derivation as x_pagerank_trade); the mean
    filter is a 1-row broadcast crossJoin; each peel round is a
    map-side-combinable degree agg + two semi-joins on the CHECKPOINTED
    edge set with ONE fixpoint-agg action, superseded round checkpoints
    released (the r10 k_core contract, job/storage-probed in
    tests/test_sketch.py)."""
    from ..functions.graph import k_core

    edges, nat = _trade_edge_frame(spark, sf_dir)
    core = k_core(_sparsify_mean_relative(edges), KCORE_K)
    return core.join(nat, core.node == nat.n_nationkey).select(
        F.col("n_name").alias("nation"),
        F.col("degree").cast("long").alias("degree"),
    )


@register(
    "x_clustering_trade",
    oracle="""
WITH e AS MATERIALIZED (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
),
und AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM e WHERE src <> dst
),
deg AS MATERIALIZED (
  SELECT node, COUNT(*) AS d FROM (
    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
  ) GROUP BY 1
),
o AS MATERIALIZED (
  SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND und.u < und.v)
              THEN und.u ELSE und.v END AS src,
         CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND und.u < und.v)
              THEN und.v ELSE und.u END AS dst
  FROM und JOIN deg du ON und.u = du.node JOIN deg dv ON und.v = dv.node
),
tri AS MATERIALIZED (
  SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
  FROM o ab
  JOIN o bc ON ab.dst = bc.src
  WHERE EXISTS (SELECT 1 FROM o ac WHERE ac.src = ab.src AND ac.dst = bc.dst)
),
cnt AS (
  SELECT node, COUNT(*) AS n FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b AS node FROM tri
    UNION ALL SELECT c AS node FROM tri
  ) GROUP BY 1
)
SELECT n.n_name AS nation,
       CAST(COALESCE(deg.d, 0) AS BIGINT) AS degree,
       CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_triangles,
       CAST(CASE WHEN deg.d >= 2
                 THEN (2 * COALESCE(cnt.n, 0) * 1000000)
                      // (deg.d * (deg.d - 1))
                 ELSE 0 END AS BIGINT) AS coeff_fp
FROM nation n
LEFT JOIN deg ON n.n_nationkey = deg.node
LEFT JOIN cnt ON n.n_nationkey = cnt.node
""",
)
def x_clustering_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficients of the trade graph
    (functions.graph.clustering_coefficients): per-nation degree,
    triangle count and the fixed-point ratio
    ``2·triangles·1e6 // (degree·(degree−1))`` — triangle density
    normalized by possible wedges, the per-node companion of
    x_triangle_trade (a near-1e6 coefficient marks a clique-like bloc; a
    high-degree, low-coefficient node is an organic hub). Integer
    arithmetic end to end, so the hash gate pins every bit; nations with
    no qualifying edge keep explicit 0 rows (dimension LEFT join).

    Scale shape: exactly x_triangle_trade + one degree aggregate — the
    wedge joins and the degree aggregate share ONE checkpointed
    canonical edge frame (persistent-RDD-probed in
    tests/test_sketch.py), the degree-oriented wedge joins run
    on the checkpointed aggregate, and the coefficient is one row-local
    BIGINT expression over the (node, degree, triangles) join."""
    from ..functions.graph import clustering_coefficients

    edges, nat = _trade_edge_frame(spark, sf_dir)
    cc = clustering_coefficients(edges)
    return nat.join(cc, nat.n_nationkey == cc.node, "left").select(
        F.col("n_name").alias("nation"),
        F.coalesce(F.col("degree"), F.lit(0)).cast("long").alias("degree"),
        F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias(
            "n_triangles"
        ),
        F.coalesce(F.col("coeff_fp"), F.lit(0)).cast("long").alias("coeff_fp"),
    )


# ---------------------------------------------------------------------------
# Multi-source BFS hop counts
# ---------------------------------------------------------------------------

BFS_ROUNDS = 6  # unrolled oracle relaxation rounds; measured max hops = 2
#                 from the ASIA seed set at sf0.001/0.01/0.1 — relaxation is
#                 idempotent at the fixpoint, so 6 is loud headroom
BFS_SEED_REGION = "ASIA"


def _bfs_oracle(rounds: int) -> str:
    """Unrolled full-relaxation twin of functions.graph.bfs_hops on the
    mean-relative sparsified trade graph: round ``i`` takes the min of
    round ``i-1``'s distances and every neighbor's distance + 1 — a
    different SHAPE from the Spark side's frontier BFS (which only ever
    touches newly discovered nodes), converging to the identical (node,
    min-hops) set once ``rounds`` ≥ the seed set's eccentricity. The two
    engines verifying each other through different formulations is the
    point (the x_registrable_domain_psl precedent)."""
    head = _SPARSE_TRADE_CTES_HEAD.format(
        num=KCORE_THR_NUM, den=KCORE_THR_DEN
    ) + f""",
sym AS MATERIALIZED (
  SELECT u, v FROM u0 UNION ALL SELECT v AS u, u AS v FROM u0
),
d0 AS MATERIALIZED (
  SELECT n.n_nationkey AS node, CAST(0 AS BIGINT) AS h
  FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = '{BFS_SEED_REGION}'
)"""
    steps = []
    for i in range(1, rounds + 1):
        steps.append(f""",
d{i} AS MATERIALIZED (
  SELECT node, MIN(h) AS h FROM (
    SELECT node, h FROM d{i-1}
    UNION ALL
    SELECT s.v AS node, d.h + 1 AS h FROM sym s JOIN d{i-1} d ON s.u = d.node
  ) GROUP BY 1
)"""
        )
    tail = f"""
SELECT n.n_name AS nation, CAST(d.h AS BIGINT) AS hops
FROM d{rounds} d JOIN nation n ON d.node = n.n_nationkey
"""
    return head + "".join(steps) + tail


SSSP_ROUNDS = 8  # unrolled oracle relaxation rounds; measured fixpoint
#                  depth <= 3 from the ASIA seed set at sf0.001/0.01/0.1
SSSP_COST_SCALE = 10**4
#: per-edge cost = mean edge weight over this edge's weight, 1e4-scaled
#: BIGINT: (tot_w * SCALE) // (n_edges * w) — heavy trade corridors are
#: CHEAP, so min-cost paths are strongest-corridor routes; pure integer
#: multiply/floor-divide, no floats, identical in both engines


def _sssp_oracle(rounds: int) -> str:
    """Unrolled min-plus relaxation twin of functions.graph.sssp_weighted
    on the inverse-mean-relative-cost trade graph: round ``i`` takes the
    min of round ``i-1``'s distances and every in-edge's source distance
    + cost — full relaxation where the Spark side runs frontier
    Bellman-Ford, the two shapes converging to the identical fixpoint
    once ``rounds`` ≥ the longest shortest-path edge count (the
    x_bfs_trade discipline, weighted)."""
    head = f"""
WITH e AS MATERIALIZED (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
),
m AS MATERIALIZED (SELECT SUM(w) AS tw, COUNT(*) AS ne FROM e),
ec AS MATERIALIZED (
  SELECT src, dst, (m.tw * {SSSP_COST_SCALE}) // (m.ne * e.w) AS cost
  FROM e, m WHERE src <> dst
),
d0 AS MATERIALIZED (
  SELECT n.n_nationkey AS node, CAST(0 AS BIGINT) AS dist
  FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = '{BFS_SEED_REGION}'
)"""
    steps = []
    for i in range(1, rounds + 1):
        steps.append(f""",
d{i} AS MATERIALIZED (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d{i-1}
    UNION ALL
    SELECT c.dst AS node, d.dist + c.cost AS dist
    FROM ec c JOIN d{i-1} d ON c.src = d.node
  ) GROUP BY 1
)"""
        )
    tail = f"""
SELECT n.n_name AS nation, CAST(d.dist AS BIGINT) AS dist
FROM d{rounds} d JOIN nation n ON d.node = n.n_nationkey
"""
    return head + "".join(steps) + tail


@register("x_sssp_trade", oracle=_sssp_oracle(SSSP_ROUNDS))
def x_sssp_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest-path distances (functions.graph.sssp_weighted)
    from the ASIA nations over the DIRECTED trade graph with
    inverse-mean-relative costs — heavy corridors are cheap, so ``dist``
    ranks every nation by its strongest multi-hop export route from the
    seed set (hop counts answer reachability — x_bfs_trade; this answers
    cost: two strong corridors can beat one weak direct edge, and the
    fixture's cost spread makes such routes real). Integer min-plus end
    to end, hash-gate pinned; the oracle replays the frontier
    Bellman-Ford as unrolled full-relaxation rounds (≥ measured
    fixpoint depth, extra rounds exact no-ops).

    Scale shape: the fact-join aggregation is the one corpus exchange
    (shared derivation) and is localCheckpoint()ed ONCE — the totals
    side, the cost filter and sssp's internal canonicalization all read
    the pin; without it the totals aggregate and sssp's checkpoint each
    re-ran the whole fact join (two corpus passes, r11 verdict #5). The
    cost expression is a 1-row broadcast cross-multiply — or, below the
    dispatch bound, exact Python integers emitted as a VALUES relation
    (the _sparsify_mean_relative discipline: all operands positive, so
    Python // IS the BIGINT DIV; any product near int64 falls back to
    the distributed spelling so ANSI overflow behavior rules). Each
    relaxation round joins only the IMPROVING wavefront against the
    checkpointed edge list with a map-side combinable min, convergence
    is one isEmpty probe, superseded checkpoints released (the bfs_hops
    storage contract)."""
    from ..functions.dispatch import driver_path
    from ..functions.graph import sssp_weighted

    edges, nat = _trade_edge_frame(spark, sf_dir)

    def kernel(rows):
        ws = [r["w"] for r in rows]
        ne = len(rows)
        tw = sum(w for w in ws if w is not None)
        if (
            all(w is not None and 0 < w and ne * w < 2**63 for w in ws)
            and 0 <= tw * SSSP_COST_SCALE < 2**63
        ):
            return [
                (r["src"], r["dst"], (tw * SSSP_COST_SCALE) // (ne * r["w"]))
                for r in rows
                if r["src"] is not None
                and r["dst"] is not None
                and r["src"] != r["dst"]
            ]
        return None

    # _trade_edge_frame already pinned its output
    ec, _ = driver_path(
        edges,
        kernel,
        edges.limit(0).selectExpr(
            "src", "dst", "CAST(1 AS BIGINT) AS cost"
        ).schema,
        pin=False,
    )
    if ec is None:
        tot = edges.agg(
            F.sum("w").alias("tw"), F.count(F.lit(1)).alias("ne")
        )
        ec = (
            edges.crossJoin(F.broadcast(tot))
            .filter(F.col("src") != F.col("dst"))
            .select(
                "src",
                "dst",
                F.expr(
                    f"CAST(tw * {SSSP_COST_SCALE} AS BIGINT) DIV (ne * w)"
                ).alias("cost"),
            )
        )
    region = tables(spark, sf_dir, "region")[0]
    seeds = (
        nat.join(region, nat.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == BFS_SEED_REGION)
        .select("n_nationkey")
    )
    d = sssp_weighted(ec, seeds)
    return d.join(nat, d.node == nat.n_nationkey).select(
        F.col("n_name").alias("nation"), F.col("dist").cast("long").alias("dist")
    )


@register("x_bfs_trade", oracle=_bfs_oracle(BFS_ROUNDS))
def x_bfs_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop counts (functions.graph.bfs_hops) from the
    ASIA nations over the mean-relative sparsified trade graph: each
    nation's minimum heavy-trade hop distance from any seed — the
    reachability/distance primitive (crawl-frontier expansion depth,
    seed-set influence radius, trusted-neighborhood filtering). Nations
    unreachable through above-mean trade links are absent; seeds carry
    an explicit 0. Integer hop counts, so the hash gate pins the result;
    the oracle replays the frontier BFS as unrolled full-relaxation
    rounds — a deliberately different formulation converging to the
    same fixpoint (rounds ≥ measured eccentricity, extra rounds exact
    no-ops).

    Scale shape: the fact-join aggregation + 1-row mean filter are
    shared with x_kcore_trade; each BFS round joins only the FRONTIER
    against the checkpointed symmetric edge list (cost tracks the
    frontier boundary, not the graph), convergence is one isEmpty probe
    per round on an already-materialized frame, and superseded round
    checkpoints are released (the k_core storage contract)."""
    from ..functions.graph import bfs_hops

    edges, nat = _trade_edge_frame(spark, sf_dir)
    region = tables(spark, sf_dir, "region")[0]
    seeds = (
        nat.join(region, nat.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == BFS_SEED_REGION)
        .select("n_nationkey")
    )
    hops = bfs_hops(_sparsify_mean_relative(edges), seeds)
    return hops.join(nat, hops.node == nat.n_nationkey).select(
        F.col("n_name").alias("nation"), F.col("hops").cast("long").alias("hops")
    )


# ---------------------------------------------------------------------------
# label-propagation communities (catalog twin of the round-11 library
# operator — r10 verdict #5: the one classic missing from the
# pagerank/HITS/CC/k-core/BFS/SSSP family)
# ---------------------------------------------------------------------------

LPA_ITER = 4


def lpa_iter_ctes(n_iter: int) -> str:
    """The ``n_iter`` chained (label-mass, argmax, relabel) CTE triples of
    the unrolled synchronous label-propagation twin — the
    pagerank_iter_ctes discipline. Requires the caller's WITH chain to
    define ``es`` (node, nbr, w — BOTH orientations of the undirected
    weighted edges), ``nodes`` (node) and ``l0`` (node, label). The
    argmax is a DIFFERENT formulation than the Spark side's struct-max
    (row_number ORDER BY mass DESC, label ASC) — two shapes, one
    tie-break; every CTE is AS MATERIALIZED."""
    steps = []
    for i in range(1, n_iter + 1):
        steps.append(f""",
s{i} AS MATERIALIZED (
  SELECT e.node, l.label, SUM(e.w) AS s
  FROM es e JOIN l{i-1} l ON e.nbr = l.node GROUP BY 1, 2
),
b{i} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY s DESC, label ASC) AS rn
    FROM s{i}
  ) WHERE rn = 1
),
l{i} AS MATERIALIZED (
  SELECT p.node, COALESCE(b.label, p.label) AS label
  FROM l{i-1} p LEFT JOIN b{i} b ON p.node = b.node
)""")
    return "".join(steps)


#: shared WITH-chain head of the LPA-on-the-sparsified-weighted-trade-graph
#: oracles (x_communities_trade and x_modularity_trade): evaluated text
#: byte-identical to the pre-extraction x_communities_trade spelling
#: (the _PSL_RESOLUTION_CTES precedent — one spelling, two consumers, the
#: established query's window hash untouched)
_LPA_TRADE_HEAD = f"""
WITH e AS MATERIALIZED (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
),
m AS MATERIALIZED (SELECT SUM(w) AS tw, COUNT(*) AS ne FROM e),
uw AS MATERIALIZED (
  SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v, SUM(w) AS w
  FROM e, m
  WHERE src <> dst AND w * m.ne * {KCORE_THR_DEN} >= m.tw * {KCORE_THR_NUM}
  GROUP BY 1, 2
),
es AS MATERIALIZED (
  SELECT u AS node, v AS nbr, w FROM uw
  UNION ALL
  SELECT v AS node, u AS nbr, w FROM uw
),
nodes AS MATERIALIZED (SELECT n_nationkey AS node FROM nation),
l0 AS MATERIALIZED (SELECT node, CAST(node AS BIGINT) AS label FROM nodes)"""


def _communities_oracle(n_iter: int) -> str:
    """Unrolled twin of functions.graph.label_propagation over the
    mean-relative sparsified WEIGHTED trade graph: directed edges filter
    against the mean (the x_kcore_trade sparsifier, weights kept), both
    directions' weights SUM into the canonical undirected edge, labels
    start as node ids, and each round reassigns every node the
    weight-mass argmax of its neighbors' labels (ties to the smallest
    label, no-neighbor nodes keep theirs). EXACTLY ``n_iter`` rounds in
    both dialects — parity is by construction, not by convergence
    (synchronous LPA may oscillate; neither side early-exits)."""
    tail = f"""
SELECT n.n_name AS nation, CAST(l.label AS BIGINT) AS community
FROM l{n_iter} l JOIN nation n ON l.node = n.n_nationkey
"""
    return _LPA_TRADE_HEAD + lpa_iter_ctes(n_iter) + tail


@register("x_communities_trade", oracle=_communities_oracle(LPA_ITER))
def x_communities_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trading-bloc communities by synchronous weighted label propagation
    (functions.graph.label_propagation) over the mean-relative sparsified
    trade graph — the clustering complement of the seam's reachability
    (components/BFS), density (k-core) and centrality (PageRank/HITS)
    operators: ``community`` is the label each nation's heavy-trade
    neighborhood converged on after exactly LPA_ITER weighted-majority
    rounds (ties to the smallest label — fully deterministic, so the
    hash gate pins every assignment, not just the partition).

    Scale shape: the fact-join aggregation to the ≤n² edge list is the
    one corpus exchange (shared derivation with every trade-graph
    query); the mean filter is a 1-row broadcast crossJoin; each LPA
    round is ONE hash join of the checkpointed symmetric edge list
    against the previous labeling + a map-side-combinable label-mass sum
    + a struct-max argmax (two exchanges on the label-mass aggregate —
    the edge list never reshuffles); superseded label checkpoints are
    released; driver fast path below 100k edges, property-pinned
    bit-identical to the distributed loop."""
    from ..functions.graph import label_propagation

    edges, nat = _trade_edge_frame(spark, sf_dir)
    comm = label_propagation(
        _sparsify_mean_relative(edges, keep_weight=True),
        nat.select("n_nationkey"),
        n_iter=LPA_ITER,
    )
    return comm.join(nat, comm.node == nat.n_nationkey).select(
        F.col("n_name").alias("nation"), "community"
    )


# ---------------------------------------------------------------------------
# modularity of the LPA partition (catalog twin of functions.graph.modularity
# — the quality metric that says whether the communities x_communities_trade
# found are BETTER than random edge placement)
# ---------------------------------------------------------------------------

MODULARITY_SCALE = 10**6


def _modularity_oracle(n_iter: int, scale: int) -> str:
    """Unrolled twin of label_propagation ∘ modularity over the sparsified
    weighted trade graph: the LPA CTE chain (shared spelling with
    x_communities_trade via _LPA_TRADE_HEAD/lpa_iter_ctes) produces the
    partition, then Newman's Q decomposes per community in fixed-point —
        contrib_fp = (2·w_in·2m − d_tot²)·scale  //  (2m)²
    with the // quotient truncating toward zero in BOTH dialects
    (functions/graph.py pins the −7/2 → −3 agreement; contrib is
    negative for sparser-than-random communities, so the sign semantics
    are load-bearing). The intra-weight/degree sums replay RELATIONALLY
    against uw (undirected canonical edges), a different formulation
    than the Spark side's und-frame aggregation."""
    tail = f""",
lab AS MATERIALIZED (SELECT node, label AS community FROM l{n_iter}),
uwl AS MATERIALIZED (
  SELECT uw.u, uw.v, uw.w, la.community AS cu, lb.community AS cv
  FROM uw
  JOIN lab la ON uw.u = la.node
  JOIN lab lb ON uw.v = lb.node
),
tot AS MATERIALIZED (SELECT 2 * SUM(w) AS m2 FROM uwl),
win AS MATERIALIZED (
  SELECT cu AS community, SUM(w) AS w_in FROM uwl WHERE cu = cv GROUP BY 1
),
deg AS MATERIALIZED (
  SELECT community, SUM(w) AS d_tot FROM (
    SELECT cu AS community, w FROM uwl
    UNION ALL
    SELECT cv AS community, w FROM uwl
  ) GROUP BY 1
)
SELECT c.community,
       CAST(COALESCE(win.w_in, 0) AS BIGINT) AS w_in,
       CAST(COALESCE(deg.d_tot, 0) AS BIGINT) AS d_tot,
       CAST(((2 * COALESCE(win.w_in, 0) * tot.m2
              - COALESCE(deg.d_tot, 0) * COALESCE(deg.d_tot, 0)) * {scale})
            // (tot.m2 * tot.m2) AS BIGINT) AS contrib_fp
FROM (SELECT DISTINCT community FROM lab) c
LEFT JOIN win ON c.community = win.community
LEFT JOIN deg ON c.community = deg.community
CROSS JOIN tot
"""
    return _LPA_TRADE_HEAD + lpa_iter_ctes(n_iter) + tail


@register(
    "x_modularity_trade", oracle=_modularity_oracle(LPA_ITER, MODULARITY_SCALE)
)
def x_modularity_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the label-propagation partition
    (functions.graph.modularity ∘ label_propagation) over the
    mean-relative sparsified weighted trade graph: per community
    ``(community, w_in, d_tot, contrib_fp)`` in fixed-point BIGINT —
    the partition-QUALITY metric the clustering seam was missing
    (x_communities_trade says WHERE the blocs are; this says whether the
    blocs beat random edge placement, Q = Σ contrib_fp / scale).

    Scale shape: the fact-join aggregation to the ≤n² edge list is the
    one corpus exchange; the sparsified weighted edge frame is
    checkpointed ONCE and feeds BOTH the LPA loop and the modularity
    aggregations (no re-derivation — the label_propagation
    eager-checkpoint lesson applied at the composition level); the Q
    decomposition itself is two map-side-combinable aggregations over
    the edge list plus a 1-row total, zero iteration."""
    from ..functions.graph import label_propagation, modularity

    edges, nat = _trade_edge_frame(spark, sf_dir)
    sp = _sparsify_mean_relative(edges, keep_weight=True).localCheckpoint(
        eager=True
    )
    labels = label_propagation(
        sp, nat.select("n_nationkey"), n_iter=LPA_ITER
    )
    return modularity(sp, labels, scale=MODULARITY_SCALE)


# ---------------------------------------------------------------------------
# deterministic random walks (catalog twin of functions.graph.random_walks —
# the DeepWalk/node2vec corpus-generation primitive, determinized so the
# hash gate pins every step)
# ---------------------------------------------------------------------------

WALKS_LEN = 4
WALKS_NUM = 2


def _random_walks_oracle(walk_len: int, num_walks: int) -> str:
    """Unrolled twin of functions.graph.random_walks on the mean-relative
    sparsified trade graph: the sorted-neighbor rank table and degree
    table replay the library's adjacency relationally, then each step is
    one chained CTE joining the previous walker frame to its hash-chosen
    neighbor. The step hash's LINEAR pass is the graph module's
    ``_walk_h1_sql`` — ONE spelling, two engines (the catalog's
    cross-dialect discipline); the quadratic mix and modulo-degree
    indexing are spelled inline per step. Walkers only ever exist for
    nodes with degree >= 1, identically in both dialects."""
    from ..functions.graph import WALK_E, WALK_P, _walk_h1_sql

    head = _SPARSE_TRADE_CTES_HEAD.format(
        num=KCORE_THR_NUM, den=KCORE_THR_DEN
    ) + f""",
sym AS MATERIALIZED (
  SELECT u, v FROM u0 UNION ALL SELECT v AS u, u AS v FROM u0
),
rk AS MATERIALIZED (
  SELECT u AS node, v AS nbr,
         row_number() OVER (PARTITION BY u ORDER BY v) AS rnk
  FROM sym
),
dg AS MATERIALIZED (
  SELECT node, COUNT(*) AS deg FROM rk GROUP BY 1
),
w0 AS MATERIALIZED (
  SELECT d.node AS start, CAST(ws.wid AS INTEGER) AS wid, d.node AS cur
  FROM dg d CROSS JOIN (SELECT UNNEST(range({num_walks})) AS wid) ws
)"""
    steps = []
    for t in range(1, walk_len + 1):
        h1 = _walk_h1_sql(
            "CAST(w.cur AS BIGINT)", t, "CAST(w.wid AS BIGINT)"
        )
        steps.append(f""",
w{t} AS MATERIALIZED (
  SELECT q.start, q.wid, r.nbr AS cur
  FROM (
    SELECT h.start, h.wid, h.cur,
           1 + ((h.h1 * h.h1 + {WALK_E}) % {WALK_P}) % h.deg AS rnk
    FROM (
      SELECT w.start, w.wid, w.cur, d.deg, ({h1}) AS h1
      FROM w{t-1} w JOIN dg d ON w.cur = d.node
    ) h
  ) q
  JOIN rk r ON r.node = q.cur AND r.rnk = q.rnk
)""")
    unions = "\n  UNION ALL\n".join(
        f"  SELECT start, wid, CAST({t} AS INTEGER) AS step, cur AS node"
        f" FROM w{t}"
        for t in range(walk_len + 1)
    )
    tail = f""",
allw AS MATERIALIZED (
{unions}
)
SELECT sn.n_name AS start_nation, w.wid, w.step, an.n_name AS at_nation
FROM allw w
JOIN nation sn ON w.start = sn.n_nationkey
JOIN nation an ON w.node = an.n_nationkey
"""
    return head + "".join(steps) + tail


@register(
    "x_random_walks_trade",
    oracle=_random_walks_oracle(WALKS_LEN, WALKS_NUM),
)
def x_random_walks_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-seeded random walks
    (functions.graph.random_walks) over the mean-relative sparsified
    trade graph: ``WALKS_NUM`` walks of ``WALKS_LEN`` steps from every
    non-isolated nation, each step moving to the quadratic-hash-chosen
    sorted neighbor — the DeepWalk/node2vec corpus-generation primitive
    (the trajectories ARE the skip-gram training corpus), determinized
    so walks are reproducible across engines, partitionings and retries
    and the hash gate pins every (start, wid, step, node) row, not just
    aggregate statistics.

    Scale shape: the fact-join aggregation to the ≤n² edge list is the
    one corpus exchange (shared derivation with every trade-graph
    query); the sorted-neighbor rank table and degree table are built
    once (one shuffle each) and checkpointed; each step is two
    fixed-width hash joins of the walker frame — adjacency arrays never
    shuffle, so a skewed hub costs its bucket size, not a replicated
    array; walker frames are constant-size across steps and every step
    checkpoint is part of the output (retained, bounded at
    (walk_len+1)·walkers rows). Driver fast path below 100k edges,
    property-pinned bit-identical to the distributed loop."""
    from ..functions.graph import random_walks

    edges, nat = _trade_edge_frame(spark, sf_dir)
    w = random_walks(
        _sparsify_mean_relative(edges),
        walk_len=WALKS_LEN,
        num_walks=WALKS_NUM,
    )
    ns = nat.select(
        F.col("n_nationkey").alias("_sk"), F.col("n_name").alias("start_nation")
    )
    na = nat.select(
        F.col("n_nationkey").alias("_ak"), F.col("n_name").alias("at_nation")
    )
    return (
        w.join(F.broadcast(ns), w.start == F.col("_sk"))
        .join(F.broadcast(na), w.node == F.col("_ak"))
        .select("start_nation", "wid", "step", "at_nation")
    )
