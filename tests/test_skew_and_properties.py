"""Salted-join correctness + hypothesis property tests for the merge sink
(the most load-bearing semantic in the engine gets model-based checking)."""

from __future__ import annotations

import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from bi_gcp_stitch_repl_spark.ops.skew import salted_join
from bi_gcp_stitch_repl_spark.sinks.merge import ParquetTable


def test_salted_join_equals_plain_join(spark):
    """A 90%-hot-key fact joined to a dim: salted result ≡ plain result."""
    fact = spark.createDataFrame(
        [(1 if i % 10 else i, i) for i in range(1000)], "k long, v long"
    )
    dim = spark.createDataFrame([(i, f"d{i}") for i in range(0, 1000, 7)], "k long, d string")
    plain = {(r["k"], r["v"], r["d"]) for r in fact.join(dim, "k").collect()}
    salted = {
        (r["k"], r["v"], r["d"])
        for r in salted_join(fact, dim, on=["k"], n_salts=8).collect()
    }
    assert salted == plain


def test_salted_left_join_keeps_unmatched(spark):
    fact = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k long, v long")
    dim = spark.createDataFrame([(1, "a")], "k long, d string")
    rows = {r["k"]: r["d"] for r in salted_join(fact, dim, ["k"], 4, how="left").collect()}
    assert rows == {1: "a", 2: None, 3: None}


# -- model-based merge semantics ----------------------------------------------

row_strategy = st.lists(
    st.tuples(st.integers(0, 20), st.text("abc", min_size=1, max_size=3)),
    min_size=0,
    max_size=15,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(existing=row_strategy, batch=row_strategy)
def test_merge_upsert_matches_dict_model(spark, tmp_path_factory, existing, batch):
    """merge_upsert ≡ dict.update keyed by k, for arbitrary overlaps,
    including duplicate keys within `existing` (all replaced) and empty
    sides."""
    # dedup batch by key (merge contract: one row per key in the batch;
    # keep last occurrence as the model does)
    batch_d = {}
    for k, v in batch:
        batch_d[k] = v
    model = {}
    for k, v in existing:
        model[k] = v
    model.update(batch_d)

    tmp = tmp_path_factory.mktemp("merge")
    t = ParquetTable(spark, str(tmp / "t"))
    if existing:
        t.overwrite(spark.createDataFrame(existing, "k long, v string"))
    if batch_d:
        t.merge_upsert(
            spark.createDataFrame(sorted(batch_d.items()), "k long, v string"),
            keys=["k"],
        )
    got = {}
    if t.exists():
        for r in t.read().collect():
            # existing-side duplicate keys: any surviving value must match
            # the model only if the key was replaced by the batch
            got.setdefault(r["k"], set()).add(r["v"])
    if not existing and not batch_d:
        assert not t.exists()
        return
    assert set(got) == set(model)
    for k in batch_d:
        assert got[k] == {batch_d[k]}  # batch keys fully replaced


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(existing=row_strategy, batch=row_strategy, frame=st.lists(st.integers(0, 9), max_size=10))
def test_merge_upsert_key_frame_matches_dict_model(
    spark, tmp_path_factory, existing, batch, frame
):
    """merge_upsert with key_frame ≡ (drop keys in frame ∪ batch-keys)
    then dict.update with the batch — for arbitrary overlaps between
    existing keys, batch keys, and frame keys (ADVICE r04 purge
    semantics as a law, not just the pipeline example)."""
    batch_d = {}
    for k, v in batch:
        batch_d[k] = v
    model = {}
    for k, v in existing:
        model[k] = v
    for k in set(frame) | set(batch_d):
        model.pop(k, None)
    model.update(batch_d)

    tmp = tmp_path_factory.mktemp("mergekf")
    t = ParquetTable(spark, str(tmp / "t"))
    if not existing:
        return  # merge into a missing table ignores the frame by contract
    t.overwrite(spark.createDataFrame(existing, "k long, v string"))
    batch_df = spark.createDataFrame(
        sorted(batch_d.items()), "k long, v string"
    ) if batch_d else spark.createDataFrame([], "k long, v string")
    frame_df = spark.createDataFrame([(k,) for k in frame], "k long")
    t.merge_upsert(batch_df, keys=["k"], key_frame=frame_df)
    got = {}
    for r in t.read().collect():
        got.setdefault(r["k"], set()).add(r["v"])
    assert set(got) == set(model)
    for k in batch_d:
        assert got[k] == {batch_d[k]}


zrow_strategy = st.lists(
    st.tuples(
        st.integers(min_value=-(2**31), max_value=2**31),
        st.integers(min_value=-(2**31), max_value=2**31),
    ),
    max_size=60,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=zrow_strategy, lo=st.integers(-(2**31), 2**31), span=st.integers(0, 2**16))
def test_zorder_layout_roundtrip_and_pruning_safety(
    spark, tmp_path_factory, rows, lo, span
):
    """For arbitrary data (duplicates, negatives, empty): the z-ordered
    rewrite is a permutation of the input, and a stats-pruned read plus the
    row filter equals the plain filtered read — pruning never loses rows."""
    from bi_gcp_stitch_repl_spark.sinks.versioned import VersionedTable

    if not rows:
        return
    df = spark.createDataFrame(rows, "a long, b long")
    tmp = tmp_path_factory.mktemp("z")
    t = VersionedTable(spark, str(tmp / "t"))
    t.append(df)
    t.optimize(target_files=4, zorder_by=["a", "b"])
    assert sorted((r["a"], r["b"]) for r in t.read().collect()) == sorted(rows)

    hi = lo + span
    expect = sorted(p for p in rows if lo <= p[1] <= hi)
    got = (
        t.read(where={"b": (lo, hi)})
        .filter(f"b between {lo} and {hi}")
        .collect()
    )
    assert sorted((r["a"], r["b"]) for r in got) == expect


# -- model-based as-of join semantics -----------------------------------------

# tiny key/ts domains so equal-timestamp ties across sides occur often —
# the tie rule is exactly what a naive model gets wrong
asof_left = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 15)),  # (key, probe_ts)
    min_size=0,
    max_size=20,
)
asof_right = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 15), st.integers(0, 99)),
    min_size=0,
    max_size=20,
    unique_by=lambda t: (t[0], t[1], t[2]),  # (key, ts, payload-ish id)
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=asof_left, right=asof_right)
def test_asof_join_matches_sorted_scan_model(spark, left, right):
    """asof_join ≡ the obvious per-row model (most recent right row
    at-or-before, ties broken by the tiebreak column) for arbitrary key
    overlap, duplicate timestamps, and empty sides."""
    from bi_gcp_stitch_repl_spark.ops.asof import asof_join

    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)] or [(None, None, None)],
        "k long, ts long, lid long",
    ).filter("lid is not null")
    # unique per (k, ts, rid) by construction; rid is the right tiebreak
    rdf = spark.createDataFrame(
        [(k, t, r) for (k, t, r) in right] or [(None, None, None)],
        "k long, ts long, rid long",
    ).filter("rid is not null")

    got = {
        (r["lid"], r["match"])
        for r in asof_join(
            ldf,
            rdf,
            on=["k"],
            left_ts="ts",
            right_ts="ts",
            payload={"match": "rid"},
            left_tiebreak="lid",
            right_tiebreak="rid",
        ).collect()
    }

    # documented contract: right matches when its (ts, tiebreak) <= the
    # left's (ts, tiebreak), compared lexicographically; latest match wins
    expect = set()
    for i, (k, t) in enumerate(left):
        candidates = [
            (rt, rid) for (rk, rt, rid) in right if rk == k and (rt, rid) <= (t, i)
        ]
        best = max(candidates) if candidates else None
        expect.add((i, best[1] if best else None))
    assert got == expect


# --- span_dedup global invariants ------------------------------------------

_word = st.sampled_from(["a", "b", "c", "dd", "ee"])  # tiny alphabet -> many collisions
_doc_strategy = st.lists(
    st.lists(_word, min_size=1, max_size=25).map(" ".join),
    min_size=1,
    max_size=8,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=_doc_strategy)
def test_span_dedup_invariants(spark, texts):
    """For ANY corpus: (1) every surviving segment is globally unique;
    (2) each doc's kept segments are exactly its original segments minus
    non-first duplicates, order preserved; (3) counts are conserved."""
    from bi_gcp_stitch_repl_spark.functions.dedup import span_dedup

    W = 3
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in span_dedup(docs, span_words=W).collect()}

    # reference model
    def segments(t):
        ws = t.split(" ")
        return [" ".join(ws[i : i + W]) for i in range(0, len(ws), W)]

    seen = set()
    expect = {}
    for i, t in enumerate(texts):
        segs = segments(t)
        kept = []
        for s in segs:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        expect[i] = (len(segs), len(kept), " ".join(kept))

    surviving = []
    for i in expect:
        n_segs, n_kept, cleaned = expect[i]
        assert out[i]["n_segs"] == n_segs
        assert out[i]["n_kept"] == n_kept
        assert out[i]["cleaned_text"] == cleaned
        if cleaned:
            surviving.extend(segments(cleaned))
    # global uniqueness: no full-width segment survives twice corpus-wide
    full = [s for s in surviving if len(s.split(" ")) == 3]
    assert len(full) == len(set(full))


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=asof_left, right=asof_right)
def test_asof_nearest_matches_model(spark, left, right):
    """asof_join_nearest ≡ the per-row model: closest right row within
    tolerance on either side, backward (lexicographically ≤) preferred on
    equal distance; within a side, the backward pick is the latest ≤ and
    the forward pick the earliest >."""
    from bi_gcp_stitch_repl_spark.ops.asof import asof_join_nearest

    TOL = 5.0
    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)] or [(None, None, None)],
        "k long, ts long, lid long",
    ).filter("lid is not null")
    rdf = spark.createDataFrame(
        [(k, t, r) for (k, t, r) in right] or [(None, None, None)],
        "k long, ts long, rid long",
    ).filter("rid is not null")

    got = {
        (r["lid"], r["match"])
        for r in asof_join_nearest(
            ldf,
            rdf,
            on=["k"],
            left_ts="ts",
            right_ts="ts",
            payload={"match": "rid"},
            left_tiebreak="lid",
            right_tiebreak="rid",
            tolerance_sec=TOL,
        ).collect()
    }

    expect = set()
    for i, (k, t) in enumerate(left):
        back = [(rt, rid) for (rk, rt, rid) in right if rk == k and (rt, rid) <= (t, i)]
        fwd = [(rt, rid) for (rk, rt, rid) in right if rk == k and (rt, rid) > (t, i)]
        b = max(back) if back else None
        f = min(fwd) if fwd else None
        ok_b = b is not None and (t - b[0]) <= TOL
        ok_f = f is not None and (f[0] - t) <= TOL
        if ok_b and (not ok_f or (t - b[0]) <= (f[0] - t)):
            expect.add((i, b[1]))
        elif ok_f:
            expect.add((i, f[1]))
        else:
            expect.add((i, None))
    assert got == expect


def _partition_shares(df):
    """Fraction of output rows per physical partition, descending."""
    from pyspark.sql import functions as F

    counts = [
        r["n"]
        for r in df.withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid")
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    total = sum(counts)
    return sorted((c / total for c in counts), reverse=True)


def test_salted_join_removes_straggler_partition(spark):
    """Skew-hardening proof on a deliberately skewed key (one key = 20% of
    rows): without salting the hot key's entire 20% lands in ONE post-join
    partition (the straggler that caps a 1000-executor cluster at 1/0.2 =
    5× worse than linear); with salting no partition holds more than a
    few percent. Measured on actual partition row counts, AQE/broadcast
    disabled so nothing masks the placement."""
    from pyspark.sql import functions as F

    n = 40_000
    fact = (
        spark.range(n)
        .select(
            F.when(F.col("id") % 5 == 0, F.lit(0))
            .otherwise((F.col("id") % 997) + 1)
            .alias("k"),
            F.col("id").alias("v"),
        )
    )
    dim = spark.range(998).select(
        F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("d")
    )
    old = {
        "spark.sql.adaptive.enabled": spark.conf.get("spark.sql.adaptive.enabled"),
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
    }
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plain_shares = _partition_shares(fact.join(dim, "k"))
        salted_shares = _partition_shares(salted_join(fact, dim, ["k"], n_salts=16))
    finally:
        for key, val in old.items():
            spark.conf.set(key, val)
    assert plain_shares[0] >= 0.19, plain_shares[:3]
    assert salted_shares[0] <= 0.08, salted_shares[:3]


def test_aqe_skew_join_splits_hot_partition(spark):
    """The AQE path (on by default in session.py) handles the same skew
    without explicit salting: with the skew thresholds scaled down to this
    test's data volume, the executed sort-merge join reports skew=true —
    i.e. the hot partition was split at runtime. This is the mechanism the
    100 TB deployment leans on before reaching for ops.skew.salted_join."""
    from pyspark.sql import functions as F

    n = 40_000
    fact = spark.range(n).select(
        F.when(F.col("id") % 5 == 0, F.lit(0))
        .otherwise((F.col("id") % 997) + 1)
        .alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad"),
    )
    dim = spark.range(998).select(F.col("id").alias("k"))
    keys = [
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    old = {}
    for key in keys:
        try:
            old[key] = spark.conf.get(key)
        except Exception:
            old[key] = None
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        joined = fact.join(dim, "k")
        # drive THIS DataFrame's own query execution (a write would build a
        # fresh execution and leave this plan un-finalized)
        joined.foreach(lambda r: None)
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        for key, val in old.items():
            if val is not None:
                spark.conf.set(key, val)
    assert "skew=true" in plan, plan[:2000]


# -- model-based RRF fusion ---------------------------------------------------

rank_list = st.dictionaries(
    st.integers(0, 12), st.integers(1, 30), min_size=0, max_size=8
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(lex=rank_list, sem=rank_list, extra=rank_list)
def test_rrf_fuse_matches_python_model(spark, lex, sem, extra):
    """rrf_fuse over arbitrary 1-3 rank lists ≡ the python-float model:
    ids = union of lists, score = Σ 1/(k+rank) over the lists containing
    the id (missing-list term 0), exact float equality (the same IEEE
    ops in the same order)."""
    from bi_gcp_stitch_repl_spark.functions.similarity import rrf_fuse

    lists = {"lex": lex, "sem": sem, "extra": extra}
    frames = {}
    for name, ranks in lists.items():
        if ranks:
            frames[name] = spark.createDataFrame(
                list(ranks.items()), f"doc_id long, {name}_rank int"
            )
        else:  # empty retriever list still fuses (all its terms = 0)
            frames[name] = spark.range(0).selectExpr(
                "id AS doc_id", f"CAST(NULL AS INT) AS {name}_rank"
            )
    out = {r["doc_id"]: r["rrf_score"] for r in rrf_fuse(frames).collect()}
    expect = {}
    for ranks in lists.values():
        for i, r in ranks.items():
            expect[i] = expect.get(i, 0.0)
    for i in expect:
        s = 0.0
        for ranks in lists.values():
            s = s + (1.0 / (60.0 + float(ranks[i])) if i in ranks else 0.0)
        expect[i] = s
    assert out == expect


def test_salted_topk_equals_bare_window(spark):
    """Two-level salted top-k must be EXACTLY the single-window answer
    (every true top-k row is in its salt lane's local top-k)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bi_gcp_stitch_repl_spark.ops.skew import salted_topk

    df = spark.range(500).select(
        (F.col("id") % 3).alias("g"),
        F.col("id").alias("uid"),
        F.pmod(F.xxhash64("id"), F.lit(97)).alias("score"),
    )
    order = [F.col("score").desc(), F.col("uid")]
    got = salted_topk(
        df, partition_by=["g"], order_by=order, k=7, salt_on="uid", n_salts=8
    )
    w = Window.partitionBy("g").orderBy(*order)
    want = (
        df.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 7)
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


# --- pagerank_fixedpoint ≡ sequential integer reference ----------------------

edge_strategy = st.lists(
    st.tuples(st.integers(0, 6), st.integers(0, 6), st.integers(1, 9)),
    min_size=0,
    max_size=18,
)


def _pr_reference(edges, nodes, n_iter, S=10**12, FS=10**6, seeds=None):
    """Plain-Python replica of the fixed-point update rule (same floor
    divides, same grouping) — the distributed version must match EXACTLY,
    that being the entire point of integer arithmetic. ``seeds`` (already
    a subset of nodes) switches to the personalized restart: base and
    dangling mass land on seeds only."""
    # duplicate (src, dst) edges accumulate weight, mirroring the groupBy
    W, w_pair = {}, {}
    for s, d, w in edges:
        W[s] = W.get(s, 0) + w
        w_pair[(s, d)] = w_pair.get((s, d), 0) + w
    frac = {(s, d): (w * FS) // W[s] for (s, d), w in w_pair.items()}
    n = len(nodes)
    if n == 0:
        return {}
    rank = {v: S // n for v in nodes}
    node_set = set(nodes)
    m = n if seeds is None else len(seeds)
    base = (S * 15) // (100 * m)
    for _ in range(n_iter):
        contrib = {v: 0 for v in nodes}
        for (s, d), f in frac.items():
            # edges touching non-ranked endpoints: src outside the node
            # set contributes nothing, mass to a dst outside is dropped
            if s in node_set and d in node_set:
                contrib[d] += (rank[s] * f) // FS
        dm = sum(rank[v] for v in nodes if v not in W) // m
        if seeds is None:
            rank = {v: base + ((85 * (contrib[v] + dm)) // 100) for v in nodes}
        else:
            rank = {
                v: (
                    base + ((85 * (contrib[v] + dm)) // 100)
                    if v in seeds
                    else (85 * contrib[v]) // 100
                )
                for v in nodes
            }
    return rank


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=edge_strategy,
    n_iter=st.integers(1, 4),
    drop_node=st.integers(0, 6),
)


@pytest.mark.slow
def test_pagerank_fixedpoint_matches_integer_reference(
    spark, driver_rows, edges, n_iter, drop_node
):
    from bi_gcp_stitch_repl_spark.functions.graph import pagerank_fixedpoint

    # drop one endpoint from the node set sometimes: ranking a SUBGRAPH
    # of a larger edge list must behave identically on both paths (edges
    # from outside contribute nothing; mass to outside is dropped)
    nodes = sorted(({v for e in edges for v in e[:2]} | {0, 1}) - {drop_node})
    if not nodes:
        nodes = [0]
    # weights on duplicate (src, dst) pairs must pre-aggregate identically
    e = spark.createDataFrame(
        edges or [(0, 1, 1)], "src long, dst long, w long"
    )
    if not edges:
        e = e.limit(0)
    nd = spark.createDataFrame([(v,) for v in nodes], "node long")
    expect = _pr_reference(edges, nodes, n_iter)
    # default = the driver fast path at this size; DRIVER_ROWS = 0
    # forces the distributed checkpointed loop — BOTH must equal the
    # independent replica exactly (the bit-identical-paths contract)
    got_driver = {
        r.node: r.rank_fp
        for r in pagerank_fixedpoint(e, nd, n_iter=n_iter).collect()
    }
    got_dist = {
        r.node: r.rank_fp
        for r in driver_rows(
            0, lambda: pagerank_fixedpoint(e, nd, n_iter=n_iter)
        ).collect()
    }
    assert got_driver == expect
    assert got_dist == expect


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=edge_strategy,
    n_iter=st.integers(1, 3),
    seed_a=st.integers(0, 6),
    seed_b=st.integers(0, 6),
)


@pytest.mark.slow
def test_personalized_pagerank_matches_integer_reference(
    spark, driver_rows, edges, n_iter, seed_a, seed_b
):
    """pagerank_fixedpoint(teleport=seeds): driver fast path AND forced
    distributed loop both equal the seeded replica bit-for-bit — restart
    mass and dangling redistribution land on the seed set only, and
    out-of-node-set seed entries are ignored (the subgraph contract)."""
    from bi_gcp_stitch_repl_spark.functions.graph import pagerank_fixedpoint

    nodes = sorted({v for e in edges for v in e[:2]} | {0, 1})
    seeds = sorted({seed_a, seed_b} & set(nodes)) or [nodes[0]]
    e = spark.createDataFrame(
        edges or [(0, 1, 1)], "src long, dst long, w long"
    )
    if not edges:
        e = e.limit(0)
    nd = spark.createDataFrame([(v,) for v in nodes], "node long")
    # 99 is never a node: the teleport frame's out-of-universe entries
    # must be dropped by the intersection, not counted in |S|
    tp = spark.createDataFrame([(v,) for v in seeds] + [(99,)], "node long")
    expect = _pr_reference(edges, nodes, n_iter, seeds=set(seeds))
    got_driver = {
        r.node: r.rank_fp
        for r in pagerank_fixedpoint(e, nd, n_iter=n_iter, teleport=tp).collect()
    }
    got_dist = {
        r.node: r.rank_fp
        for r in driver_rows(
            0, lambda: pagerank_fixedpoint(e, nd, n_iter=n_iter, teleport=tp)
        ).collect()
    }
    assert got_driver == expect
    assert got_dist == expect


# --- hits_fixedpoint ≡ sequential integer reference ---------------------------

def _hits_reference(edges, nodes, n_iter, S=10**6):
    """Plain-Python replica of the fixed-point HITS update rule (same
    floor divides, same L1 normalization, same in-universe edge drop) —
    both physical paths must match it EXACTLY."""
    w_pair = {}
    for s, d, w in edges:
        w_pair[(s, d)] = w_pair.get((s, d), 0) + w
    ns = set(nodes)
    eu = [(s, d, w) for (s, d), w in w_pair.items() if s in ns and d in ns]
    n = len(nodes)
    if n == 0:
        return {}
    hub = {v: S // n for v in nodes}
    auth = {v: 0 for v in nodes}
    for _ in range(n_iter):
        araw = {v: 0 for v in nodes}
        for s, d, w in eu:
            araw[d] += hub[s] * w
        t = sum(araw.values())
        auth = {v: (araw[v] * S) // t if t else 0 for v in nodes}
        hraw = {v: 0 for v in nodes}
        for s, d, w in eu:
            hraw[s] += auth[d] * w
        t = sum(hraw.values())
        hub = {v: (hraw[v] * S) // t if t else 0 for v in nodes}
    return {v: (hub[v], auth[v]) for v in nodes}


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=edge_strategy,
    n_iter=st.integers(1, 3),
    drop_node=st.integers(0, 6),
)


@pytest.mark.slow
def test_hits_fixedpoint_matches_integer_reference(
    spark, driver_rows, edges, n_iter, drop_node
):
    """Driver fast path AND forced distributed loop both equal the
    independent sequential replica bit-for-bit on random directed
    weighted multigraphs — including subgraph rankings (a dropped node's
    edges contribute nothing on any path) and duplicate (src, dst) rows
    (must pre-aggregate identically)."""
    from bi_gcp_stitch_repl_spark.functions.graph import hits_fixedpoint

    nodes = sorted(({v for e in edges for v in e[:2]} | {0, 1}) - {drop_node})
    if not nodes:
        nodes = [0]
    e = spark.createDataFrame(
        edges or [(0, 1, 1)], "src long, dst long, w long"
    )
    if not edges:
        e = e.limit(0)
    nd = spark.createDataFrame([(v,) for v in nodes], "node long")
    expect = _hits_reference(edges, nodes, n_iter)
    got_driver = {
        r.node: (r.hub_fp, r.auth_fp)
        for r in hits_fixedpoint(e, nd, n_iter=n_iter).collect()
    }
    got_dist = {
        r.node: (r.hub_fp, r.auth_fp)
        for r in driver_rows(
            0, lambda: hits_fixedpoint(e, nd, n_iter=n_iter)
        ).collect()
    }
    assert got_driver == expect
    assert got_dist == expect


# --- bfs_hops ≡ sequential BFS reference --------------------------------------

def _bfs_reference(edges, seeds):
    """Textbook queue BFS over the simple undirected graph."""
    from collections import deque

    adj: dict = {}
    for s, d, _ in edges:
        if s is None or d is None or s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    dist = {v: 0 for v in seeds}
    q = deque(seeds)
    while q:
        u = q.popleft()
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    return dist


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edge_strategy, seed_a=st.integers(0, 6), seed_b=st.integers(0, 6))
def test_bfs_hops_matches_queue_reference(spark, edges, seed_a, seed_b):
    """Frontier BFS ≡ the textbook queue BFS on random multigraphs with
    1-2 seeds — first-discovery-round distances are unique, so the two
    must agree exactly (and the frontier loop must terminate on its
    own, never via max_iter)."""
    from bi_gcp_stitch_repl_spark.functions.graph import bfs_hops

    seeds = sorted({seed_a, seed_b})
    e = spark.createDataFrame(edges or [(0, 1, 1)], "src long, dst long, w long")
    if not edges:
        e = e.limit(0)
    sd = spark.createDataFrame([(v,) for v in seeds], "node long")
    expect = _bfs_reference(edges, seeds)
    got = {r.node: r.hops for r in bfs_hops(e, sd).collect()}
    assert got == expect


# --- sssp_weighted ≡ Dijkstra reference ---------------------------------------

def _dijkstra_reference(edges, seeds):
    """Textbook heap Dijkstra over the directed min-cost multigraph."""
    import heapq

    adj: dict = {}
    for s, d, w in edges:
        if s is None or d is None or s == d:
            continue
        cur = adj.setdefault(s, {})
        cur[d] = min(cur.get(d, w), w)
    dist = {v: 0 for v in seeds}
    heap = [(0, v) for v in seeds]
    heapq.heapify(heap)
    while heap:
        du, u = heapq.heappop(heap)
        if du > dist.get(u, du):
            continue
        for v, w in adj.get(u, {}).items():
            nd = du + w
            if nd < dist.get(v, nd + 1):
                dist[v] = nd
                heapq.heappush(heap, (nd, v))
    return dist


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edge_strategy, seed_a=st.integers(0, 6), seed_b=st.integers(0, 6))
def test_sssp_weighted_matches_dijkstra_reference(spark, edges, seed_a, seed_b):
    """Frontier Bellman-Ford ≡ textbook Dijkstra on random directed
    weighted multigraphs with 1-2 seeds — shortest-path costs are unique
    values, so exact equality (and self-termination, never max_iter)."""
    from bi_gcp_stitch_repl_spark.functions.graph import sssp_weighted

    seeds = sorted({seed_a, seed_b})
    e = spark.createDataFrame(edges or [(0, 1, 1)], "src long, dst long, w long")
    if not edges:
        e = e.limit(0)
    sd = spark.createDataFrame([(v,) for v in seeds], "node long")
    expect = _dijkstra_reference(edges, seeds)
    got = {r.node: r.dist for r in sssp_weighted(e, sd).collect()}
    assert got == expect


# --- triangle_counts ≡ brute-force reference ---------------------------------


def _tri_reference(edges):
    """Brute-force per-node triangle counts over the simple undirected
    graph (direction/dups/self-loops/None dropped) — itertools over every
    node triple, no orientation cleverness to share a bug with."""
    import itertools

    und = {
        (min(a, b), max(a, b))
        for a, b in edges
        if a is not None and b is not None and a != b
    }
    nodes = sorted({v for e in und for v in e})
    counts: dict = {}
    for a, b, c in itertools.combinations(nodes, 3):
        if (a, b) in und and (b, c) in und and (a, c) in und:
            for v in (a, b, c):
                counts[v] = counts.get(v, 0) + 1
    return counts


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)),
        min_size=0,
        max_size=20,
    )
)
def test_triangle_counts_matches_bruteforce_reference(spark, edges):
    """Degree-oriented wedge counting ≡ the brute-force triple scan on
    random multigraphs (dups, reversed edges, self-loops included by the
    strategy) — the (degree, key) orientation logic is exactly the kind
    of cleverness that deserves an independent witness."""
    from bi_gcp_stitch_repl_spark.functions.graph import triangle_counts

    e = spark.createDataFrame(edges or [(0, 0)], "x long, y long")
    if not edges:
        e = e.limit(0)
    got = {r.node: r.n_triangles for r in triangle_counts(e).collect()}
    assert got == _tri_reference(edges)


# --- k_core ≡ sequential peeling reference -----------------------------------


def _kcore_reference(edges, k):
    und = {
        (min(a, b), max(a, b))
        for a, b in edges
        if a is not None and b is not None and a != b
    }
    while True:
        deg: dict = {}
        for u, v in und:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        drop = {n for n, d in deg.items() if d < k}
        if not drop:
            return deg
        und = {(u, v) for u, v in und if u not in drop and v not in drop}


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)),
        min_size=0,
        max_size=20,
    ),
    k=st.integers(1, 4),
)
def test_k_core_matches_peeling_reference(spark, edges, k):
    """Distributed round-based peeling ≡ the sequential whole-set peel on
    random multigraphs for every k — the k-core is order-of-deletion
    invariant, so the two schedules must land on the identical set AND
    identical within-core degrees."""
    from bi_gcp_stitch_repl_spark.functions.graph import k_core

    e = spark.createDataFrame(edges or [(0, 0)], "x long, y long")
    if not edges:
        e = e.limit(0)
    got = {r.node: r.degree for r in k_core(e, k).collect()}
    assert got == _kcore_reference(edges, k)


# --- label_propagation ≡ sequential replica -----------------------------------

def _lpa_reference(edges, nodes, n_iter):
    """Independent replica of synchronous weighted label propagation:
    canonical undirected weight map (both directions + duplicates sum),
    per-round label-mass tables, argmax by (mass DESC, label ASC) via a
    SORT (the library sides use max()-with-key / struct-max /
    row_number — four spellings, one tie-break)."""
    ns = set(nodes)
    und: dict = {}
    for s, d, w in edges:
        if s is None or d is None or s == d or s not in ns or d not in ns:
            continue
        k = (min(s, d), max(s, d))
        und[k] = und.get(k, 0) + w
    lab = {v: v for v in nodes}
    for _ in range(n_iter):
        mass: dict = {v: {} for v in nodes}
        for (u, v), w in und.items():
            mass[u][lab[v]] = mass[u].get(lab[v], 0) + w
            mass[v][lab[u]] = mass[v].get(lab[u], 0) + w
        lab = {
            v: (
                sorted(mass[v].items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
                if mass[v]
                else lab[v]
            )
            for v in nodes
        }
    return lab


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=edge_strategy,
    n_iter=st.integers(0, 4),
    drop_node=st.integers(0, 6),
)


@pytest.mark.slow
def test_label_propagation_matches_reference(
    spark, driver_rows, edges, n_iter, drop_node
):
    """Driver fast path AND forced distributed loop both equal the
    independent sequential replica bit-for-bit on random weighted
    multigraphs — including subgraph labelings (a dropped node's edges
    contribute nothing), duplicate / reverse-duplicate edges (weights
    must SUM into one undirected edge), n_iter=0 (identity labeling),
    and isolated nodes (keep their own label)."""
    from bi_gcp_stitch_repl_spark.functions.graph import label_propagation

    nodes = sorted(({v for e in edges for v in e[:2]} | {0, 1}) - {drop_node})
    if not nodes:
        nodes = [0]
    e = spark.createDataFrame(
        edges or [(0, 1, 1)], "src long, dst long, w long"
    )
    if not edges:
        e = e.limit(0)
    nd = spark.createDataFrame([(v,) for v in nodes], "node long")
    expect = _lpa_reference(edges, nodes, n_iter)
    got_driver = {
        r.node: r.community
        for r in label_propagation(e, nd, n_iter=n_iter).collect()
    }
    got_dist = {
        r.node: r.community
        for r in driver_rows(
            0, lambda: label_propagation(e, nd, n_iter=n_iter)
        ).collect()
    }
    assert got_driver == expect
    assert got_dist == expect


# --- bpe_train ≡ sequential replica --------------------------------------------

def _bpe_reference(vocab, n_merges):
    """Independent replica: Counter-over-zip pair counts and a RECURSIVE
    left-to-right merge — a different spelling than both the library's
    while-loop driver path and the oracle's relational run-parity."""
    from collections import Counter
    import sys

    sys.setrecursionlimit(10000)

    def merge_word(syms, a, b, m):
        if len(syms) < 2:
            return list(syms)
        if syms[0] == a and syms[1] == b:
            return [m] + merge_word(syms[2:], a, b, m)
        return [syms[0]] + merge_word(syms[1:], a, b, m)

    vocab = [(list(w), f) for w, f in vocab]
    rules = []
    for r in range(1, n_merges + 1):
        counts = Counter()
        for syms, f in vocab:
            for pair in zip(syms, syms[1:]):
                counts[pair] += f
        if not counts:
            break
        (a, b), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        rules.append((r, a, b, a + b, cnt))
        vocab = [(merge_word(s, a, b, a + b), f) for s, f in vocab]
    return rules


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    words=st.lists(
        st.tuples(
            st.text(alphabet="abcx", min_size=1, max_size=8),
            st.integers(1, 9),
        ),
        min_size=1,
        max_size=12,
    ),
    n_merges=st.integers(0, 5),
)


@pytest.mark.slow
def test_bpe_train_matches_reference(spark, driver_rows, words, n_merges):
    """Driver fast path AND forced distributed loop both equal the
    independent recursive replica on random small-alphabet vocabularies
    (duplicate words must SUM their frequencies first — the library
    normalizes; the replica gets the pre-summed table) — including
    identical-symbol runs, the tie-break order, and early exhaustion."""
    from bi_gcp_stitch_repl_spark.functions.bpe import bpe_train

    summed: dict = {}
    for w, f in words:
        summed[w] = summed.get(w, 0) + f
    expect = _bpe_reference(sorted(summed.items()), n_merges)
    wf = spark.createDataFrame(words, "word string, freq long")
    got_driver = [tuple(r) for r in bpe_train(wf, n_merges).collect()]
    got_dist = [
        tuple(r)
        for r in driver_rows(0, lambda: bpe_train(wf, n_merges)).collect()
    ]
    assert got_driver == expect
    assert got_dist == expect


# --- modularity ≡ float reference ----------------------------------------------

def _modularity_reference(edges, labels):
    """Float Newman modularity per community — the fixed-point output
    must land within 1/scale of it per community."""
    und: dict = {}
    ns = set(labels)
    for s, d, w in edges:
        if s is None or d is None or s == d or s not in ns or d not in ns:
            continue
        k = (min(s, d), max(s, d))
        und[k] = und.get(k, 0) + w
    m = sum(und.values())
    if m == 0:
        return {c: 0.0 for c in set(labels.values())}
    w_in: dict = {}
    d_tot: dict = {}
    for (u, v), w in und.items():
        if labels[u] == labels[v]:
            w_in[labels[u]] = w_in.get(labels[u], 0) + w
        d_tot[labels[u]] = d_tot.get(labels[u], 0) + w
        d_tot[labels[v]] = d_tot.get(labels[v], 0) + w
    return {
        c: w_in.get(c, 0) / m - (d_tot.get(c, 0) / (2 * m)) ** 2
        for c in set(labels.values())
    }


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=edge_strategy,
    n_comm=st.integers(1, 4),
)
def test_modularity_matches_float_reference(spark, edges, n_comm):
    """Fixed-point per-community contributions land within 1 ulp-of-
    scale of the float definition on random weighted multigraphs under
    arbitrary partitions (node % n_comm), including negative
    contributions and empty communities."""
    from bi_gcp_stitch_repl_spark.functions.graph import modularity

    nodes = sorted({v for e in edges for v in e[:2]} | {0, 1})
    labels = {v: v % n_comm for v in nodes}
    e = spark.createDataFrame(
        edges or [(0, 1, 1)], "src long, dst long, w long"
    )
    if not edges:
        e = e.limit(0)
    lab = spark.createDataFrame(
        list(labels.items()), "node long, community long"
    )
    expect = _modularity_reference(edges, labels)
    got = {
        r.community: r.contrib_fp
        for r in modularity(e, lab, scale=10**6).collect()
    }
    assert set(got) == set(expect)
    for c, q in expect.items():
        assert abs(got[c] / 10**6 - q) <= 2e-6, (c, got[c], q)
