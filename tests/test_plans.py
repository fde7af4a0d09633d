"""Physical-plan assertions: the 100 TB properties are checked, not hoped.

Each headline query's plan must show the Catalyst behaviors the engine's
design relies on — filter pushdown to the parquet scan, column pruning in
ReadSchema, broadcast joins for dimension tables, whole-stage codegen on
the hot path. A regression here is a silent 10-100× at scale even when
results stay correct."""

from __future__ import annotations

import contextlib
import io

import pytest

from bi_gcp_stitch_repl_spark.queries import catalog

from .conftest import SF_SMOKE

QUERIES = catalog.queries()

#: physical operators that evaluate rows in Python workers (SURVEY §2.11:
#: the catalog ships without Python row evaluation)
PYTHON_EVAL_OPS = ("BatchEvalPython", "ArrowEvalPython", "FlatMapsInPandas",
                   "MapInPandas", "FlatMapGroupsInPandas")
#: join strategies that are O(n·m) when neither side is tiny
UNBOUNDED_JOIN_OPS = ("CartesianProduct", "BroadcastNestedLoopJoin")


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_q1_pushdown_pruning_codegen(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF_SMOKE)
    plan = plan_of(df)
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1][:200], (
        "shipdate filter must reach the parquet scan"
    )
    read_schema = plan.split("ReadSchema", 1)[1].splitlines()[0]
    # only the 7 needed columns are read (l_orderkey/partkey/suppkey pruned)
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema
    assert "partial_sum" in plan, "map-side partial aggregation before the shuffle"
    assert "HashAggregate" in plan  # hash agg, not sort agg
    simple = plan_of(df, mode="simple")
    assert simple.count("Exchange") == 1, "exactly one shuffle (the groupBy)"


def test_q3_broadcasts_dimension(spark):
    plan = plan_of(QUERIES["q3_top_revenue_orders"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, "customer side must broadcast"
    assert "TakeOrderedAndProject" in plan, "top-k must not be a global sort"


def test_q5_broadcasts_all_dims(spark):
    plan = plan_of(QUERIES["q5_local_supplier_volume"](spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 3, "supplier/nation/region broadcast"


def test_p1_column_pruning(spark):
    plan = plan_of(QUERIES["p1_p2_project_rename"](spark, SF_SMOKE))
    read_schema = plan.split("ReadSchema", 1)[1].splitlines()[0]
    for col in ("o_orderkey", "o_orderdate", "o_orderstatus", "o_totalprice"):
        assert col in read_schema
    assert "o_custkey" not in read_schema and "o_orderpriority" not in read_schema


def test_s4_keyset_predicate_pushdown(spark):
    plan = plan_of(QUERIES["s4_keyset_increment"](spark, SF_SMOKE))
    pushed = plan.split("PushedFilters", 1)[1][:200]
    assert "GreaterThan(event_id" in pushed, (
        "keyset predicate must prune row groups via parquet min/max stats"
    )


def test_predicate_queries_push_filters(spark):
    plan = plan_of(QUERIES["p3_p4_p5_predicates"](spark, SF_SMOKE))
    pushed = plan.split("PushedFilters", 1)[1][:300]
    assert "In(c_mktsegment" in pushed and "GreaterThan(c_acctbal" in pushed


def test_merge_upsert_broadcasts_batch(spark, tmp_path):
    """The anti-join inside merge_upsert must broadcast the (small) batch
    side — at 100 TB the existing table must never be the build side."""
    from bi_gcp_stitch_repl_spark.sinks.merge import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(i, "x") for i in range(100)], "k long, v string"))
    batch = spark.createDataFrame([(1, "y")], "k long, v string")
    existing = t.read()
    from pyspark.sql import functions as F

    survivors = existing.join(F.broadcast(batch.select("k")), on=["k"], how="left_anti")
    plan = plan_of(survivors)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_flagship_zero_hash_shuffles(spark):
    """Union of two filtered scans + broadcast anti-joins: no hash shuffle
    anywhere (BroadcastExchange is allowed; Exchange hashpartitioning is
    not). The earlier design's unconditional dropDuplicates cost a full-row
    SortAggregate + shuffle — pinned here so it can't come back."""
    plan = plan_of(QUERIES["flagship_union_history"](spark, SF_SMOKE), mode="simple")
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortAggregate" not in plan


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two co-bucketed tables join without an Exchange: the 100 TB layout
    lever — pay the shuffle at ingest, never at query."""
    from pyspark.sql import functions as F

    from bi_gcp_stitch_repl_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path))
    orders = spark.range(1000).select(
        F.col("id").alias("o_key"), (F.col("id") % 7).alias("o_val")
    )
    items = spark.range(3000).select(
        (F.col("id") % 1000).alias("o_key"), F.col("id").alias("i_val")
    )
    # disable broadcast so the join strategy decision is about shuffles
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        wh.write_bucketed(orders, "b_orders", ["o_key"], n_buckets=8, sort_cols=["o_key"])
        wh.write_bucketed(items, "b_items", ["o_key"], n_buckets=8, sort_cols=["o_key"])
        joined = wh.read_table("b_orders").join(wh.read_table("b_items"), "o_key")
        plan = plan_of(joined, mode="simple")
        assert "Exchange" not in plan, plan
        assert joined.count() == 3000
        # contrast: the same join on plain parquet shuffles both sides
        orders.write.mode("overwrite").parquet(str(tmp_path / "p_orders"))
        items.write.mode("overwrite").parquet(str(tmp_path / "p_items"))
        plain = spark.read.parquet(str(tmp_path / "p_orders")).join(
            spark.read.parquet(str(tmp_path / "p_items")), "o_key"
        )
        assert "Exchange" in plan_of(plain, mode="simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_items")


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """Catalyst's InjectRuntimeFilter puts a bloom filter from the selective
    (filtered) build side onto the fact-scan side of a shuffle join, so at
    100 TB the probe scan drops non-matching rows before the exchange. The
    default application-side threshold is 10 GB — right for production,
    above our fixtures — so it is lowered here only to prove the wiring."""
    from .conftest import SF_SMOKE

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").filter(
        "o_orderpriority = '1-URGENT'"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    try:
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
        optimized = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in optimized or "BloomFilter" in optimized
        assert "might_contain" in optimized, "probe side must test the bloom filter"
        # and it must actually run
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )


def test_q7_deep_tree_broadcasts_dims_single_fact_shuffle(spark):
    plan = plan_of(QUERIES["q7_volume_shipping"](spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 4, (
        "supplier/customer/nation x2 must broadcast; only lineitem+orders "
        "may touch a shuffle"
    )
    assert "p_type" not in plan  # part not even scanned in q7
    assert "partial_sum" in plan  # map-side combine before the year shuffle


def test_q8_single_pass_market_share(spark):
    df = QUERIES["q8_market_share"](spark, SF_SMOKE)
    plan = plan_of(df)
    # numerator and denominator come from ONE aggregation pass: lineitem
    # is scanned exactly once
    assert plan.count("lineitem.parquet") == 1, "two-scan share formulation"
    assert "BroadcastHashJoin" in plan


def test_asof_join_is_single_exchange_window(spark):
    plan = plan_of(QUERIES["x_asof_join"](spark, SF_SMOKE), mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1, (
        "as-of join must be union -> one shuffle -> window, not a range join"
    )
    assert "Window" in plan and "Join" not in plan


def test_q4_exists_is_semi_join_with_residual(spark):
    """The EXISTS subquery must execute as one LEFT SEMI hash join on the
    shared orderkey — the date comparison rides along as the join's
    residual condition, never an inequality-join explosion or a second
    aggregate-and-join pass over lineitem."""
    plan = plan_of(QUERIES["q4_order_priority"](spark, SF_SMOKE), mode="simple")
    assert "LeftSemi" in plan
    assert plan.count("lineitem.parquet") == 1


def test_q18_having_in_aggregates_lineitem_once(spark):
    """HAVING + IN-subquery collapses to a single reused aggregate: the
    literal SQL scans/aggregates lineitem twice, the decorrelated plan
    exactly once."""
    plan = plan_of(QUERIES["q18_large_orders"](spark, SF_SMOKE))
    assert plan.count("lineitem.parquet") == 1, "IN-subquery rescan not collapsed"
    assert "partial_sum" in plan  # map-side combine under the orderkey agg


def test_q11_scalar_subquery_scans_fact_once(spark):
    """The global-total scalar subquery is a window over the 25-row
    per-nation aggregate — lineitem must appear exactly once in the plan
    (the naive correlated form scans it twice)."""
    plan = plan_of(QUERIES["q11_revenue_concentration"](spark, SF_SMOKE))
    assert plan.count("lineitem.parquet") == 1, "scalar subquery rescans the fact"
    assert plan.count("BroadcastHashJoin") >= 2  # supplier + nation broadcast


def test_q2_decorrelated_min_broadcasts_dims(spark):
    plan = plan_of(QUERIES["q2_min_cost_supplier"](spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 3  # part, supplier, nation
    assert "TakeOrderedAndProject" in plan  # limit 100 = heap, not global sort


def test_decontaminate_broadcasts_bench_grams(spark):
    plan = plan_of(QUERIES["x_decontaminate"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, "bench gram set must broadcast"


def test_jaccard_probe_audit_broadcasts_probe_side(spark):
    """The probe-anchored exact-Jaccard audit must broadcast the K-doc
    probe shingles — a shuffle join there would exchange the corpus
    shingle stream, the exact cost the probe design exists to avoid."""
    plan = plan_of(QUERIES["x_jaccard_ngram_pairs"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan


@pytest.mark.slow
def test_no_python_eval_anywhere_in_catalog(spark):
    """Engine rule (SURVEY §2.11): the whole catalog ships without Python
    row evaluation — no BatchEvalPython / ArrowEvalPython / FlatMapsInPandas
    in any plan. Python belongs only in connector fan-out and multimodal
    decode, which are library functions, not catalog queries. A regression
    here is a silent 10-100× on the hot path."""
    # sanctioned exceptions: S7 remote fan-out is impure and I/O-bound —
    # mapInPandas IS its correct form (SURVEY §2.11) — and the three codec
    # roundtrips exist to drive the multimodal decode seams, the other
    # domain where Arrow-batched Python is the design (payload bytes touch
    # Python exactly once; everything around them is metadata-only)
    allowed = {
        "s7_detail_fanout",
        "x_image_roundtrip_meta",
        "x_audio_roundtrip_features",
        "x_video_frames_roundtrip",
        "x_mjpeg_avi_roundtrip",
        # r11: perceptual image dedup — image_dhash IS the multimodal
        # decode seam (Arrow-batched PNG decode + integer dHash; pixel
        # bytes touch Python exactly once, the pair join downstream is
        # pure byte-band SQL)
        "x_image_dhash_near_dups",
    }
    offenders = {}
    for name, fn in sorted(QUERIES.items()):
        if name in allowed:
            continue
        plan = plan_of(fn(spark, SF_SMOKE), mode="simple")
        hits = [b for b in PYTHON_EVAL_OPS if b in plan]
        if hits:
            offenders[name] = hits
    assert not offenders, offenders


@pytest.mark.slow
def test_no_unbounded_join_strategies_in_catalog(spark):
    """Catalog-wide plan lint: no CartesianProduct and no
    BroadcastNestedLoopJoin anywhere EXCEPT the whitelisted
    broadcast-one-tiny-side patterns (kNN's single query vector, IVF's
    centroid table, LSH model joins). Either operator on two large inputs
    is the O(n·m) cliff that kills a 100 TB plan; this test makes adding
    one a loud failure instead of a silent slowdown."""
    # queries whose SMALL side is broadcast by construction (1 row /
    # n_cells rows / n_queries rows) — the nested loop is the right plan
    allowed = {
        "x_knn_cosine_topk",     # broadcast 1-row query vector
        "x_hybrid_search_rrf",   # broadcast 1-row query vector (semantic side)
        "x_ivf_topk",            # broadcast centroid table + query probes
        "x_lsh_cosine_buckets",  # broadcast plane/model constants
        "x_dedup_embedding_pairs",
        "x_semantic_decontaminate",  # broadcast fixed-size eval/bench set
        "a4_max_watermark",      # 1-row watermark crossJoin
        "a4_a6_watermark_accounting",  # 1-row watermark crossJoin
        "x_bm25_topk",           # 1-row corpus-stats crossJoin
        "x_lm_likelihood",       # 1-row vocabulary-size crossJoin
        "x_ccnet_buckets",       # same LM kernel (1-row vocab crossJoin)
        "x_token_budget_plan",   # 1-row budget crossJoin
        "x_dsir_weights",        # 1-row token-totals crossJoin
        "x_kmeans_assign",       # broadcast k-row centroid table
        "x_registrable_domain_psl",  # 1-row broadcast PSL-rules map crossJoin
        "x_domain_caps_psl",     # same 1-row PSL-rules map crossJoin
        "q22_idle_customers",    # 1-row avg-balance threshold crossJoin
        "x_basket_pairs",        # 1-row global order-count crossJoin
        "x_benford_digits",      # 1-row total-count crossJoin
        "x_pmi_collocations",    # 1-row vocab-map + 1-row doc-total crossJoins
    }
    offenders = {}
    for name, fn in sorted(QUERIES.items()):
        if name in allowed:
            continue
        plan = plan_of(fn(spark, SF_SMOKE), mode="simple")
        hits = [b for b in UNBOUNDED_JOIN_OPS if b in plan]
        if hits:
            offenders[name] = hits
    assert not offenders, offenders


def test_window_and_headline_plans_stay_engine_native(spark):
    """Default-run sentinel for the two catalog-wide sweeps above (which
    are opt-in): five headline/window queries, none of them on either
    sweep's allowlist, plan without Python row evaluation and without an
    O(n·m) join strategy."""
    offenders = {}
    for name in ("flagship_union_history", "q7_volume_shipping", "x_asof_join",
                 "st_session_windows", "x_minhash_lsh_candidates"):
        plan = plan_of(QUERIES[name](spark, SF_SMOKE), mode="simple")
        hits = [b for b in PYTHON_EVAL_OPS + UNBOUNDED_JOIN_OPS if b in plan]
        if hits:
            offenders[name] = hits
    assert not offenders, offenders


def test_q21_single_fact_scan(spark):
    """The EXISTS/NOT-EXISTS decorrelation must stay single-pass: exactly
    one lineitem FileScan (the two-branch formulation scans it twice —
    2x fact I/O at scale), partial aggregation before the (orderkey,
    suppkey) exchange, and the order verdict derived by window, not a
    re-join of a second scan."""
    df = QUERIES["q21_waiting_suppliers"](spark, SF_SMOKE)
    plan = plan_of(df)
    assert plan.count("lineitem.parquet") == 1, "fact scanned exactly once"
    assert "partial_sum" in plan
    assert "Window" in plan


def test_q19_pushes_single_table_implications(spark):
    """OR-of-ANDs: the brand hull must reach the part scan and the
    quantity hull the lineitem scan BEFORE the join; the full disjunction
    stays residual."""
    plan = plan_of(QUERIES["q19_disjunctive_predicates"](spark, SF_SMOKE))
    assert "In(p_brand, [Brand#12,Brand#23,Brand#4])" in plan, (
        "brand membership must push to the part scan"
    )
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan and (
        "LessThanOrEqual(l_quantity,30.0)" in plan
    ), "quantity hull must push to the lineitem scan"
    # Catalyst additionally pushes the per-table OR residuals themselves
    assert plan.count("Or(Or(And(") >= 2
    assert "BroadcastHashJoin" in plan


def test_time_rollup_expands_before_single_shuffle(spark):
    """ROLLUP must expand rows to their hierarchy levels map-side and
    partially aggregate BEFORE the one exchange — the shuffle carries
    aggregates of the expanded levels, never 3x the raw events."""
    df = QUERIES["st_time_rollup"](spark, SF_SMOKE)
    plan = plan_of(df)
    assert "Expand" in plan
    assert "partial_count" in plan or "partial_sum" in plan
    simple = plan_of(df, mode="simple")
    assert simple.count("Exchange") == 1, "one shuffle for every level"
    # Expand must sit below the partial aggregate (map-side), i.e. appear
    # after it in the printed top-down tree
    assert plan.index("Expand") > plan.index("HashAggregate")


def test_null_aware_anti_plans_naaj_not_nested_loop(spark):
    """The NULL-poisoned NOT IN must plan as a broadcast null-aware anti
    join (single-key NAAJ), not fall off the cliff into a nested-loop
    cartesian check."""
    plan = plan_of(QUERIES["x_null_aware_anti"](spark, SF_SMOKE), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_jaccard_candidate_join_has_explicit_partition_count(spark):
    """The prefix self-join's exchange must carry an EXPLICIT partition
    count: AQE sizes post-shuffle partitions on the (tiny) prefix input
    and would run the ~Σdf²-row join output on a handful of tasks
    (measured 4 tasks / ~100M rows before pinning)."""
    plan = plan_of(QUERIES["x_jaccard_ngram_pairs"](spark, SF_SMOKE), mode="simple")
    assert "REPARTITION_BY_NUM" in plan


def test_embedding_pairs_spread_before_nested_loop(spark):
    """The all-pairs probe side must be spread across partitions — a
    single small parquet file is one scan partition, which serializes
    the O(n²) nested loop onto one task."""
    plan = plan_of(QUERIES["x_dedup_embedding_pairs"](spark, SF_SMOKE), mode="simple")
    assert "REPARTITION_BY_NUM" in plan or "RoundRobinPartitioning" in plan


def test_no_forced_broadcast_on_scaled_sides_in_package():
    """Source-level gate (the r7 verdict's x_domain_caps lesson, widened
    package-wide per the r8 verdict): a forced ``F.broadcast`` hint
    BYPASSES Spark's size check, so a hint on a side that scales with the
    data ABORTS at the 8 GB broadcast limit instead of degrading — the
    class r6 purged from the TPC queries (f16766e) and r8 purged from
    x_domain_caps. Every broadcast call site in the WHOLE package must
    name a side that is fixed-size BY CONSTRUCTION, with the reason
    recorded here. New sites fail until reviewed into the allowlist."""
    import ast
    import os

    import bi_gcp_stitch_repl_spark as pkg

    # (package-relative file, broadcast-arg source) -> why the side is
    # fixed-size by construction
    allowed = {
        # --- queries/: nation (25 rows) / region (5 rows) dims ---------
        ("queries/parity.py", "n"): "25-row nation dim",
        ("queries/parity.py", "r"): "5-row region dim",
        ("queries/parity.py", "asia_nations"): "region-filtered nation dim",
        ("queries/parity.py", "asia_nations.select('n_nationkey')"):
            "region-filtered nation dim, 1 col",
        ("queries/deep_joins.py", "n"): "25-row nation dim",
        ("queries/deep_joins.py", "n1"): "25-row nation dim",
        ("queries/deep_joins.py", "n2"): "25-row nation dim",
        ("queries/deep_joins.py", "n2.filter(F.col('c_rk') == TARGET_REGION)"):
            "region-filtered nation dim",
        # --- queries/: 1-row (or n-partition-row) aggregates ----------
        ("queries/parity.py", "wm"): "1-row MAX watermark",
        ("queries/parity.py", "offsets"): "n-partition-row offset frame",
        ("queries/deep_joins.py", "threshold"): "1-row AVG threshold",
        ("queries/deep_joins.py", "n_orders"): "1-row COUNT",
        ("queries/curation.py", "tot"): "1-row corpus total",
        # dsir's distributed-fallback ratio frame: ≤ DSIR_BUCKETS rows by
        # construction (bucket = hash % DSIR_BUCKETS) — corpus-independent
        (
            "queries/curation.py",
            "bc.crossJoin(F.broadcast(tot)).withColumn('q9', F.expr("
            "f'cast((cast(ct + 1 as decimal(38,0)) * (r_tot + {DSIR_BUCKETS})"
            " * {DSIR_SCALE}) div (cast(cr + 1 as decimal(38,0))"
            " * (t_tot + {DSIR_BUCKETS})) as bigint)'))"
            ".select('bucket', 'q9')",
        ): "bucket-count-row ratio frame (distributed overflow fallback)",
        ("queries/relational_ext.py", "tot"): "1-row total",
        # --- queries/: fixed-size query/probe sets, k-capped outputs --
        ("queries/curation.py", "q"): "1-row query vector",
        ("queries/curation.py", "freq"):
            "1-row frequent-term array (df-capped vocab)",
        ("queries/curation.py", "sa"): "source-count-row side",
        ("queries/curation.py", "sb"): "source-count-row side",
        ("queries/curation.py", "v"): "fixed vocab row set",
        ("queries/extensions.py", "q"): "1-row query vector",
        ("queries/extensions.py", "probe"): "fixed probe shingle set",
        ("queries/extensions.py", "na"): "bounded candidate side",
        ("queries/extensions.py", "cand_ids"): "IVF-pruned candidate ids",
        ("queries/extensions.py", "recall"): "k-capped recall set",
        ("queries/extensions.py", "top"): "k-capped top-term set",
        # --- functions/ ------------------------------------------------
        ("functions/web.py", "psl_map"): "1-row PSL rules map",
        ("functions/text.py", "vocab"): "bounded merge-vocab (vocab_size cap)",
        ("functions/text.py", "corpus"): "1-row corpus stats (N, Σdl, df)",
        ("functions/bloom.py",
         "bloom_bit_set(bench, text_col=text_col, n=n, m=m, k=k)"):
            "1-row packed bit-set (m bits, fixed filter size)",
        ("functions/graph.py", "labels"):
            "driver fast path only — label set under DRIVER_ROWS rows",
        ("functions/graph.py", "dangling"): "1-row dangling-mass aggregate",
        ("functions/graph.py", "dmn"): "1-row dangling-mass aggregate",
        ("functions/graph.py", "at"): "1-row HITS L1-normalization total",
        ("functions/dispatch.py", "df"):
            "driver-path local relation — hint gated on the ACTUAL row"
            " count in hand (<= the probe bound), not an estimate",
        ("functions/graph.py", "ht"): "1-row HITS L1-normalization total",
        ("functions/curation.py", "offsets"): "per-(split,shard,pid) offsets",
        ("functions/similarity.py", "_centroid_array(centroids, cell, 'cvec')"):
            "1-row array of the IVF centroid set (cells ≈ √N)",
        ("functions/similarity.py",
         "_centroid_array(centroids, cell_col, 'cvec')"):
            "1-row array of the IVF centroid set (cells ≈ √N)",
        ("functions/similarity.py", "_centroid_array(cents, 'cid', 'cv')"):
            "1-row array of the k KMeans centroids (k bounded)",
        # --- jobs/ -----------------------------------------------------
        ("jobs/pipelines.py", "cents"): "IVF centroid set (cells ≈ √N)",
        # --- x_random_walks_trade name joins ---------------------------
        ("queries/relational_ext.py", "ns"): "25-row nation dim",
        ("queries/relational_ext.py", "na"): "25-row nation dim",
        # --- ops/ ------------------------------------------------------
        ("ops/scd.py", "late_keys"): "late-key subset of one batch",
        # --- conditional sites: caller opts in via a flag, default off /
        #     documented; the hint itself is behind an explicit parameter
        ("ops/keys.py", "lookup"): "behind broadcast_existing= flag",
        ("sinks/versioned.py", "delete_keys"): "behind broadcast_batch= flag",
        ("sinks/versioned.py", "batch_keys"): "behind broadcast_batch= flag",
        ("sinks/versioned.py", "rhs"): "behind broadcast_keys= flag",
        ("sinks/merge.py", "delete_keys"): "behind broadcast_batch= flag",
        ("sinks/merge.py", "rhs"): "behind broadcast_keys= flag",
        # --- functions/curation.py conditional --------------------------
        ("functions/curation.py", "bench_grams"):
            "behind broadcast_bench= flag (bench set is eval-suite-sized)",
    }
    pkg_dir = os.path.dirname(pkg.__file__)
    offenders = []
    for root, _dirs, files in os.walk(pkg_dir):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            full = os.path.join(root, fname)
            rel = os.path.relpath(full, pkg_dir).replace(os.sep, "/")
            tree = ast.parse(open(full).read())
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "broadcast"
                    and node.args
                ):
                    arg = ast.unparse(node.args[0])
                    if (rel, arg) not in allowed:
                        offenders.append((rel, node.lineno, arg))
    assert not offenders, (
        "unreviewed F.broadcast hint(s) — a forced hint on a data-scaled "
        f"side aborts at the broadcast limit at 100 TB: {offenders}"
    )
    # the allowlist must not rot: every entry still names a real site
    live = set()
    for root, _dirs, files in os.walk(pkg_dir):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            full = os.path.join(root, fname)
            rel = os.path.relpath(full, pkg_dir).replace(os.sep, "/")
            tree = ast.parse(open(full).read())
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "broadcast"
                    and node.args
                ):
                    live.add((rel, ast.unparse(node.args[0])))
    dead = sorted(set(allowed) - live)
    assert not dead, f"allowlist entries with no live call site: {dead}"
