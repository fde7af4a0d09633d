"""Graph operators (functions/graph.py): PageRank, triangles, k-core,
BFS/SSSP, HITS, label propagation, modularity, random walks and the
driver-vs-distributed dispatch pins."""

from __future__ import annotations

import pytest


# --- pagerank ---------------------------------------------------------------


def test_pagerank_uniform_on_cycle(spark):
    """A directed cycle is perfectly symmetric: every node rank = 1/n."""
    from bi_gcp_stitch_repl_spark.functions.graph import pagerank

    n = 6
    e = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "src long, dst long"
    )
    ranks = {r.node: r.rank for r in pagerank(e, n_iter=15).collect()}
    for v in ranks.values():
        assert abs(v - 1.0 / n) < 1e-9
    assert abs(sum(ranks.values()) - 1.0) < 1e-9


def test_pagerank_star_center_dominates_and_mass_conserved(spark):
    """Spokes all link to the hub: the hub outranks every spoke; the hub
    is dangling, so its mass redistributes and total rank stays 1."""
    from bi_gcp_stitch_repl_spark.functions.graph import pagerank

    e = spark.createDataFrame(
        [(i, 0) for i in range(1, 8)], "src long, dst long"
    )
    ranks = {r.node: r.rank for r in pagerank(e, n_iter=20).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    hub = ranks[0]
    for spoke in range(1, 8):
        assert hub > ranks[spoke]


def test_pagerank_isolated_nodes_get_base_rank(spark):
    from bi_gcp_stitch_repl_spark.functions.graph import pagerank

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    nodes = spark.createDataFrame([(1,), (2,), (99,)], "node long")
    ranks = {r.node: r.rank for r in pagerank(e, n_iter=10, nodes=nodes).collect()}
    assert 99 in ranks and ranks[99] > 0
    assert abs(sum(ranks.values()) - 1.0) < 1e-9


# --- pagerank_fixedpoint ------------------------------------------------------


def test_pagerank_fixedpoint_uniform_on_cycle(spark):
    """Directed cycle: perfect symmetry, every rank identical; total mass
    within the documented truncation drift of the 1e12 scale."""
    from bi_gcp_stitch_repl_spark.functions.graph import pagerank_fixedpoint

    n = 5
    e = spark.createDataFrame(
        [(i, (i + 1) % n, 1) for i in range(n)], "src long, dst long, w long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    ranks = {r.node: r.rank_fp for r in pagerank_fixedpoint(e, nodes).collect()}
    assert len(set(ranks.values())) == 1  # exact symmetry, exact arithmetic
    total = sum(ranks.values())
    assert 10**12 - total < 10**6  # floor-divide drift only


def test_pagerank_fixedpoint_weighted_hub_and_python_reference(spark):
    """Weighted edges: node 1 sends 3/4 of its mass to 2 and 1/4 to 3 —
    compared against a plain-Python integer replica of the update rule
    (same floor-divides, same order), which must match EXACTLY."""
    from bi_gcp_stitch_repl_spark.functions.graph import pagerank_fixedpoint

    edges = [(1, 2, 3), (1, 3, 1), (2, 1, 1), (3, 1, 1)]
    nodes = [1, 2, 3]
    e = spark.createDataFrame(edges, "src long, dst long, w long")
    nd = spark.createDataFrame([(i,) for i in nodes], "node long")
    got = {
        r.node: r.rank_fp
        for r in pagerank_fixedpoint(e, nd, n_iter=4).collect()
    }

    S, FS, n = 10**12, 10**6, len(nodes)
    W = {}
    for s, _, w in edges:
        W[s] = W.get(s, 0) + w
    frac = {(s, d): (w * FS) // W[s] for s, d, w in edges}
    rank = {v: S // n for v in nodes}
    base = (S * 15) // (100 * n)
    for _ in range(4):
        contrib = {v: 0 for v in nodes}
        for (s, d), f in frac.items():
            contrib[d] += (rank[s] * f) // FS
        dm = sum(rank[v] for v in nodes if v not in W) // n
        rank = {v: base + ((85 * (contrib[v] + dm)) // 100) for v in nodes}
    assert got == rank
    assert got[2] > got[3]  # the heavier edge wins


def test_pagerank_fixedpoint_dangling_and_validation(spark):
    from bi_gcp_stitch_repl_spark.functions.graph import pagerank_fixedpoint

    e = spark.createDataFrame([(1, 2, 1)], "src long, dst long, w long")
    nd = spark.createDataFrame([(1,), (2,), (3,)], "node long")
    ranks = {r.node: r.rank_fp for r in pagerank_fixedpoint(e, nd).collect()}
    # 2 receives 1's full mass plus the dangling share; 3 only the share
    assert ranks[2] > ranks[1] > 0 and ranks[3] > 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="overflow"):
        pagerank_fixedpoint(e, nd, scale=10**15, frac_scale=10**6)
    # the damped product is damping_num*(contrib+dmn) ≤ 2*damping_num*scale:
    # scale=1e17/frac_scale=10 passes the product guard (1e18 < 2^63) and
    # would have passed the old damping_num*scale check (8.5e18 < 2^63),
    # but 2*85*1e17 = 1.7e19 wraps int64 in the distributed path
    with _pytest.raises(ValueError, match="overflow"):
        pagerank_fixedpoint(e, nd, scale=10**17, frac_scale=10)


def test_triangle_counts_k4_and_star(spark):
    """K4: 4 triangles, every node in exactly 3. A star plus one
    cross-edge: exactly the one closed triangle, leaf d absent (no
    zero-padding — the caller left-joins its node dimension)."""
    from bi_gcp_stitch_repl_spark.functions.graph import triangle_counts

    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b],
        "x long, y long",
    )
    out = {r.node: r.n_triangles for r in triangle_counts(k4).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}

    star = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2)], "x long, y long"
    )
    out = {r.node: r.n_triangles for r in triangle_counts(star).collect()}
    assert out == {0: 1, 1: 1, 2: 1}


def test_triangle_counts_ignores_direction_dups_selfloops_nulls(spark):
    """The graph is treated simple + undirected: reversed duplicates,
    multi-edges, self-loops and NULL endpoints must not inflate counts,
    and a triangle-free path yields an empty frame."""
    from bi_gcp_stitch_repl_spark.functions.graph import triangle_counts

    messy = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (2, 3), (1, 3), (2, 2), (None, 1), (3, None)],
        "x long, y long",
    )
    out = {r.node: r.n_triangles for r in triangle_counts(messy).collect()}
    assert out == {1: 1, 2: 1, 3: 1}
    path = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "x long, y long")
    assert triangle_counts(path).count() == 0


def test_triangle_counts_string_keys(spark):
    """Key type is free (domain graphs are string-keyed): same counts."""
    from bi_gcp_stitch_repl_spark.functions.graph import triangle_counts

    e = spark.createDataFrame(
        [("a.com", "b.com"), ("b.com", "c.com"), ("a.com", "c.com"),
         ("c.com", "d.com")],
        "x string, y string",
    )
    out = {r.node: r.n_triangles for r in triangle_counts(e).collect()}
    assert out == {"a.com": 1, "b.com": 1, "c.com": 1}


def test_clustering_coefficients_known_graphs(spark):
    """K4: every node coeff 1.0 (scale units). Triangle with a tail: the
    tailed corner has deg 3 and 1 triangle → 2·1e6//6 = 333333; the tail
    leaf deg 1 → 0; star center deg 3, no triangles → 0."""
    from bi_gcp_stitch_repl_spark.functions.graph import (
        clustering_coefficients,
    )

    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b],
        "x long, y long",
    )
    out = {r.node: r for r in clustering_coefficients(k4).collect()}
    assert all(r.coeff_fp == 10**6 and r.degree == 3 for r in out.values())

    tailed = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "x long, y long"
    )
    out = {r.node: r for r in clustering_coefficients(tailed).collect()}
    assert (out[3].degree, out[3].n_triangles, out[3].coeff_fp) == (3, 1, 333333)
    assert (out[1].coeff_fp, out[4].coeff_fp) == (10**6, 0)

    star = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], "x long, y long")
    out = {r.node: r for r in clustering_coefficients(star).collect()}
    assert out[0] == (0, 3, 0, 0) or (
        out[0].degree == 3 and out[0].n_triangles == 0 and out[0].coeff_fp == 0
    )
    assert all(r.coeff_fp == 0 for r in out.values())


def test_k_core_known_graphs(spark):
    """K4 with a pendant path: the 3-core is exactly the K4 (within-core
    degrees 3); the 2-core of a triangle+tail is the triangle; a pure
    path has NO 2-core — the peel cascades end-inward over multiple
    rounds until nothing is left."""
    from bi_gcp_stitch_repl_spark.functions.graph import k_core

    k4_tail = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b]
        + [(3, 4), (4, 5)],
        "x long, y long",
    )
    core3 = {r.node: r.degree for r in k_core(k4_tail, 3).collect()}
    assert core3 == {0: 3, 1: 3, 2: 3, 3: 3}

    tri_tail = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "x long, y long"
    )
    assert {r.node for r in k_core(tri_tail, 2).collect()} == {1, 2, 3}

    path = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "x long, y long"
    )
    assert k_core(path, 2).count() == 0
    # k=1: every non-isolated node with its full degree
    assert {r.node: r.degree for r in k_core(path, 1).collect()} == {
        1: 1, 2: 2, 3: 2, 4: 2, 5: 1,
    }


def test_personalized_pagerank_seed_semantics(spark, driver_rows):
    """teleport=seeds: the seed's rank rises vs the uniform restart (it
    receives ALL restart mass), non-seeds keep only flow-through rank,
    both physical paths agree bit-for-bit, and an out-of-node-set
    teleport frame raises instead of silently zeroing the restart."""
    import pytest as _pytest

    from bi_gcp_stitch_repl_spark.functions.graph import pagerank_fixedpoint

    e = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 2), (3, 1, 1), (3, 4, 1), (4, 4, 1)],
        "src long, dst long, w long",
    )
    nd = spark.createDataFrame([(v,) for v in (1, 2, 3, 4)], "node long")
    seeds = spark.createDataFrame([(1,)], "node long")
    uni = {r.node: r.rank_fp for r in pagerank_fixedpoint(e, nd).collect()}
    drv = {
        r.node: r.rank_fp
        for r in pagerank_fixedpoint(e, nd, teleport=seeds).collect()
    }
    dist = {
        r.node: r.rank_fp
        for r in driver_rows(
            0, lambda: pagerank_fixedpoint(e, nd, teleport=seeds)
        ).collect()
    }
    assert drv == dist
    assert drv[1] > uni[1]  # seed absorbs all restart mass
    assert drv[4] < uni[4]  # the self-loop sink no longer gets restarts
    disjoint = spark.createDataFrame([(99,)], "node long")
    with _pytest.raises(ValueError, match="teleport"):
        pagerank_fixedpoint(e, nd, teleport=disjoint)


def test_bfs_hops_known_graphs(spark):
    """Path graph from one end: hops = position. Multi-source: min over
    seeds. Isolated seed keeps its 0 row; a disconnected component is
    absent; direction/dups/self-loops/NULL endpoints are ignored (the
    simple-undirected contract)."""
    from bi_gcp_stitch_repl_spark.functions.graph import bfs_hops

    path = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "x long, y long"
    )
    one = spark.createDataFrame([(1,)], "node long")
    out = {r.node: r.hops for r in bfs_hops(path, one).collect()}
    assert out == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}

    both_ends = spark.createDataFrame([(1,), (5,)], "node long")
    out = {r.node: r.hops for r in bfs_hops(path, both_ends).collect()}
    assert out == {1: 0, 2: 1, 3: 2, 4: 1, 5: 0}

    messy = spark.createDataFrame(
        [(2, 1), (1, 2), (2, 3), (2, 2), (None, 3), (3, None), (8, 9)],
        "x long, y long",
    )
    seeds = spark.createDataFrame([(1,), (99,)], "node long")
    out = {r.node: r.hops for r in bfs_hops(messy, seeds).collect()}
    # 99 is an isolated seed (hops 0); the 8-9 component is unreachable
    assert out == {1: 0, 2: 1, 3: 2, 99: 0}

    # empty seed set -> empty result, converges immediately
    none = spark.createDataFrame([], "node long")
    assert bfs_hops(path, none).count() == 0


def test_sssp_weighted_known_graphs_and_guards(spark):
    """Two-hop route beats the weak direct edge (1→2→3 costs 2 vs the
    direct 10); direction is honored (no distance flows dst→src);
    duplicate (src, dst) rows keep the MIN cost; zero/negative weights
    raise; unreachable nodes absent, seeds explicit 0."""
    import pytest as _pytest

    from bi_gcp_stitch_repl_spark.functions.graph import sssp_weighted

    e = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (1, 3, 10), (4, 1, 1), (1, 2, 7)],
        "src long, dst long, w long",
    )
    one = spark.createDataFrame([(1,)], "node long")
    out = {r.node: r.dist for r in sssp_weighted(e, one).collect()}
    # 4 unreachable (edge points 4->1, never 1->4); dup (1,2) keeps w=1
    assert out == {1: 0, 2: 1, 3: 2}

    multi = spark.createDataFrame([(1,), (3,)], "node long")
    out = {r.node: r.dist for r in sssp_weighted(e, multi).collect()}
    assert out == {1: 0, 2: 1, 3: 0}

    bad = spark.createDataFrame([(1, 2, 0)], "src long, dst long, w long")
    with _pytest.raises(ValueError, match="positive"):
        sssp_weighted(bad, one)


def test_hits_fixedpoint_known_graph_and_guards(spark):
    """Bipartite toy: hub side (1, 2) never receives authority, authority
    side (10, 11) never earns hub score; node 2 out-weighs node 1 (extra
    weight to 11) so hub(2) > hub(1); the stray 10→99 edge makes 10 the
    only mixed-role node. Guards: zero/negative weights raise, scale
    below the node count raises (an all-zero start would silently yield
    an all-zero answer), scale² · max-weight overflow raises."""
    import pytest as _pytest

    from bi_gcp_stitch_repl_spark.functions.graph import hits_fixedpoint

    e = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 1), (2, 10, 1), (2, 11, 2), (10, 99, 1)],
        "src long, dst long, w long",
    )
    nd = spark.createDataFrame([(v,) for v in (1, 2, 10, 11, 99)], "node long")
    out = {r.node: (r.hub_fp, r.auth_fp) for r in hits_fixedpoint(e, nd).collect()}
    assert out[2][0] > out[1][0] > 0
    assert out[11][1] > out[10][1] > 0
    assert out[1][1] == out[2][1] == 0  # pure hubs
    assert out[11][0] == 0              # pure authority
    assert out[99][0] == 0 and out[99][1] > 0  # sink of the stray edge
    # L1 normalization: each side sums to ~scale (floor-divide sheds <1/node)
    assert sum(h for h, _ in out.values()) <= 10**6
    assert sum(a for _, a in out.values()) <= 10**6

    bad_w = spark.createDataFrame([(1, 2, 0)], "src long, dst long, w long")
    with _pytest.raises(ValueError, match="positive"):
        hits_fixedpoint(bad_w, nd)
    with _pytest.raises(ValueError, match="scale"):
        hits_fixedpoint(e, nd, scale=3)  # < node count
    huge = spark.createDataFrame(
        [(1, 2, 10**7)], "src long, dst long, w long"
    )
    with _pytest.raises(ValueError, match="overflow"):
        hits_fixedpoint(huge, nd, scale=10**6)  # 1e12 * 1e7 wraps int64


def test_clustering_coefficients_single_normalization(spark, driver_rows):
    """r9 verdict #1 / ADVICE: the triangle/coefficient composition must
    pay ONE simple-undirected normalization + checkpoint, not two copies
    of the same edge set. Probe = persistent-RDD delta: exactly 2 new
    checkpointed frames (the shared ``und`` + the oriented frame) — the
    pre-fix shape checkpointed 3."""
    from bi_gcp_stitch_repl_spark.functions.graph import (
        clustering_coefficients,
    )

    sc = spark.sparkContext
    k4_tail = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b] + [(3, 4)],
        "x long, y long",
    )
    before = _persistent_rdd_ids(sc)
    # force the distributed composition (r11 added a driver fast path;
    # this probe pins the DISTRIBUTED single-normalization contract)
    out = driver_rows(0, lambda: clustering_coefficients(k4_tail))
    rows = {r.node: r.coeff_fp for r in out.collect()}
    assert rows[0] == 10**6 and rows[4] == 0  # semantics unchanged
    assert len(_persistent_rdd_ids(sc) - before) == 2
    # driver path: the normalization checkpoint is released once the
    # probe rows are in hand — nothing stays pinned
    before = _persistent_rdd_ids(sc)
    rows = {
        r.node: r.coeff_fp for r in clustering_coefficients(k4_tail).collect()
    }
    assert rows[0] == 10**6 and rows[4] == 0
    assert len(_persistent_rdd_ids(sc) - before) == 0


def test_k_core_one_fixpoint_action_and_bounded_checkpoints(spark, driver_rows):
    """r9 verdict #2 / ADVICE: (a) the per-round fixpoint check is ONE
    aggregate job (count + count_if in the same pass), pinned by the
    exact job count — with AQE off the peel costs 3 jobs/round (deg
    checkpoint, fixpoint agg, shrunken-edge checkpoint; none on the last
    round) + the init checkpoint + the collect: ``3·rounds + 1``; the
    old two-count shape cost 4/round. (b) superseded rounds' checkpoints
    are released: retained persistent RDDs stay O(1) — 3 frames (init
    edges, final deg, final edge set) — regardless of peel depth."""
    from bi_gcp_stitch_repl_spark.functions.graph import k_core

    sc = spark.sparkContext
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for n_nodes, rounds in ((5, 3), (9, 5)):
            # a k=2 peel of an n-node path strips both ends each round:
            # path5 converges in 3 rounds, path9 in 5
            path = spark.createDataFrame(
                [(i, i + 1) for i in range(1, n_nodes)], "x long, y long"
            )
            group = f"kcore_probe_{n_nodes}"
            before = sc._jsc.sc().getPersistentRDDs().size()
            sc.setJobGroup(group, "k_core fixpoint probe")
            try:
                # DRIVER_ROWS = 0 forces the distributed peel (r11
                # added a driver fast path; a 0 bound skips the dispatch
                # probe outright, so the pinned job count is unchanged)
                assert driver_rows(0, lambda: k_core(path, 2)).collect() == []
            finally:
                sc.setJobGroup(None, None)
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            assert jobs == 3 * rounds + 1, (n_nodes, jobs)
            retained = sc._jsc.sc().getPersistentRDDs().size() - before
            assert retained <= 3, (n_nodes, retained)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_pagerank_fixedpoint_empty_graph(spark):
    from bi_gcp_stitch_repl_spark.functions.graph import pagerank_fixedpoint

    e = spark.createDataFrame([], "src long, dst long, w long")
    nd = spark.createDataFrame([], "node long")
    assert pagerank_fixedpoint(e, nd).count() == 0


def test_pagerank_fixedpoint_input_contract(spark, driver_rows):
    """Positive-weight contract (floor-div vs DIV would diverge the two
    physical paths on negatives; zero out-weight divides by zero), the
    (src, dst, weight) arity error, and NULL-endpoint/NULL-node drops
    behaving identically on both paths."""
    import pytest as _pytest

    from bi_gcp_stitch_repl_spark.functions.graph import pagerank_fixedpoint

    nd = spark.createDataFrame([(1,), (2,)], "node long")
    bad = spark.createDataFrame([(1, 2, -1)], "src long, dst long, w long")
    with _pytest.raises(ValueError, match="positive"):
        pagerank_fixedpoint(bad, nd)
    with _pytest.raises(ValueError, match="src, dst, weight"):
        pagerank_fixedpoint(
            spark.createDataFrame([(1, 2)], "src long, dst long"), nd
        )
    e = spark.createDataFrame(
        [(1, 2, 1), (None, 2, 5), (1, None, 5)],
        "src long, dst long, w long",
    )
    nd_null = spark.createDataFrame([(1,), (2,), (None,)], "node long")
    for bound in (100_000, 0):  # driver path, then distributed path
        got = {
            r.node: r.rank_fp
            for r in driver_rows(
                bound, lambda: pagerank_fixedpoint(e, nd_null)
            ).collect()
        }
        clean = {
            r.node: r.rank_fp
            for r in driver_rows(
                bound,
                lambda: pagerank_fixedpoint(
                    spark.createDataFrame(
                        [(1, 2, 1)], "src long, dst long, w long"
                    ),
                    spark.createDataFrame([(1,), (2,)], "node long"),
                ),
            ).collect()
        }
        assert got == clean  # NULL edges/nodes dropped, both paths agree


def test_mmr_pool_hygiene_null_id_and_nan_rel(spark):
    """Dirty-corpus pool hygiene: NULL ids and NaN relevance are filtered
    before the driver greedy (NULL crashes sorted(); NaN sorts above
    every real score and wins every argmax)."""
    from bi_gcp_stitch_repl_spark.functions.rerank import mmr_rerank_scored

    scored = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0.9),
            (None, [1.0, 0.0], 0.95),
            (3, [0.0, 1.0], float("nan")),
            (4, [0.5, 0.5], 0.4),
        ],
        "_id long, _v array<double>, _rel double",
    )
    out = mmr_rerank_scored(scored, k=4, pool=8).collect()
    assert [r.vec_id for r in sorted(out, key=lambda r: r.rnk)] == [1, 4]


def test_label_propagation_known_graphs_and_guards(spark):
    """Two triangles + a bridge resolve to two communities; an isolated
    node keeps its own label; non-positive weights, negative n_iter and
    a missing weight column raise; the empty universe returns empty."""
    from bi_gcp_stitch_repl_spark.functions.graph import label_propagation

    e = spark.createDataFrame(
        [(0, 1, 1), (1, 2, 1), (0, 2, 1),
         (3, 4, 1), (4, 5, 1), (3, 5, 1), (2, 3, 1)],
        "src long, dst long, w long",
    )
    nd = spark.createDataFrame([(i,) for i in range(7)], "node long")
    out = {
        r.node: r.community for r in label_propagation(e, nd).collect()
    }
    assert len(out) == 7 and out[6] == 6  # isolated keeps own label
    left = {out[0], out[1], out[2]}
    right = {out[3], out[4], out[5]}
    assert len(left) == 1 and len(right) == 1 and left != right
    # weighted majority overrides unweighted degree: node 9's single
    # heavy edge to 0 beats its two unit edges into the {7, 8} pair
    ew = spark.createDataFrame(
        [(0, 9, 10), (7, 9, 1), (8, 9, 1), (7, 8, 5)],
        "src long, dst long, w long",
    )
    ndw = spark.createDataFrame([(v,) for v in (0, 7, 8, 9)], "node long")
    outw = {
        r.node: r.community
        for r in label_propagation(ew, ndw, n_iter=1).collect()
    }
    assert outw[9] == 0 and outw[7] == 8 and outw[8] == 7
    bad = spark.createDataFrame([(0, 1, 0)], "src long, dst long, w long")
    with pytest.raises(ValueError, match="positive"):
        label_propagation(bad, nd)
    with pytest.raises(ValueError, match="n_iter"):
        label_propagation(e, nd, n_iter=-1)
    with pytest.raises(ValueError, match="weight"):
        label_propagation(e.select("src", "dst"), nd)
    assert label_propagation(e, nd.limit(0)).count() == 0


def test_modularity_known_graphs_and_guards(spark):
    """Two triangles + a bridge under the 2-community partition score
    the textbook Q = 2*(3/7 - (7/14)^2) = 0.357...; the all-in-one
    partition scores exactly 0 (the definition's calibration point);
    negative contributions (a community SPARSER than random) come out
    of the truncating integer divide identically in both engines;
    duplicate node labels, non-positive weights raise; the empty graph
    returns zero rows-with-zeros."""
    from bi_gcp_stitch_repl_spark.functions.graph import modularity

    e = spark.createDataFrame(
        [(0, 1, 1), (1, 2, 1), (0, 2, 1),
         (3, 4, 1), (4, 5, 1), (3, 5, 1), (2, 3, 1)],
        "src long, dst long, w long",
    )
    lab2 = spark.createDataFrame(
        [(i, 0 if i < 3 else 3) for i in range(6)],
        "node long, community long",
    )
    out = {r.community: r for r in modularity(e, lab2).collect()}
    assert out[0].w_in == 3 and out[0].d_tot == 7
    assert out[3].w_in == 3 and out[3].d_tot == 7
    # (2*3*14 - 49) * 1e6 div 196 = 178571 each
    assert out[0].contrib_fp == 178571 and out[3].contrib_fp == 178571
    lab1 = spark.createDataFrame(
        [(i, 0) for i in range(6)], "node long, community long"
    )
    (row,) = modularity(e, lab1).collect()
    assert row.contrib_fp == 0 and row.w_in == 7 and row.d_tot == 14
    # singleton partition: every contrib is NEGATIVE (no intra edges)
    labn = spark.createDataFrame(
        [(i, i) for i in range(6)], "node long, community long"
    )
    rows = modularity(e, labn).collect()
    assert all(r.contrib_fp < 0 for r in rows) and sum(
        r.w_in for r in rows
    ) == 0
    import pytest as _pytest

    dup = spark.createDataFrame(
        [(0, 0), (0, 1)], "node long, community long"
    )
    with _pytest.raises(ValueError, match="exactly one community"):
        modularity(e, dup)
    bad = spark.createDataFrame([(0, 1, 0)], "src long, dst long, w long")
    with _pytest.raises(ValueError, match="positive"):
        modularity(bad, lab2)
    empty = modularity(e.limit(0), lab2).collect()
    assert {r.community for r in empty} == {0, 3}
    assert all(r.contrib_fp == 0 and r.w_in == 0 for r in empty)


def test_random_walks_replica_and_distributed_pin(spark, driver_rows):
    """Deterministic hash-seeded walks on a known graph match an
    INDEPENDENT Python replica (recomputing each step's hash choice from
    the edge list — a different formulation than the library's driver
    loop); the forced-distributed loop is bit-identical to the driver
    fast path; every step lands on a neighbor of the previous node;
    duplicate/reverse input edges collapse; guards raise."""
    from bi_gcp_stitch_repl_spark.functions.graph import (
        WALK_A, WALK_B, WALK_C, WALK_D, WALK_E, WALK_P, random_walks,
    )

    edges = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2), (4, 5), (1, 0)]
    e = spark.createDataFrame(edges, "src long, dst long")
    out = random_walks(e, walk_len=3, num_walks=2).collect()

    und = {(min(s, d), max(s, d)) for s, d in edges if s != d}
    nbr: dict = {}
    for u, v in und:
        nbr.setdefault(u, []).append(v)
        nbr.setdefault(v, []).append(u)
    nbr = {k: sorted(vs) for k, vs in nbr.items()}
    expect = set()
    for start in nbr:
        for wid in range(2):
            cur = start
            expect.add((start, wid, 0, cur))
            for t in (1, 2, 3):
                h1 = (
                    (cur % WALK_P) * WALK_A + t * WALK_B
                    + wid * WALK_C + WALK_D
                ) % WALK_P
                cur = nbr[cur][((h1 * h1 + WALK_E) % WALK_P) % len(nbr[cur])]
                expect.add((start, wid, t, cur))
    got = {(r.start, r.wid, r.step, r.node) for r in out}
    assert got == expect and len(out) == len(expect) == 6 * 2 * 4

    dist = driver_rows(0, lambda: random_walks(e, walk_len=3, num_walks=2))
    drows = dist.collect()
    assert {(r.start, r.wid, r.step, r.node) for r in drows} == expect
    byw: dict = {}
    for r in drows:
        byw.setdefault((r.start, r.wid), {})[r.step] = r.node
    for steps in byw.values():
        for t in (1, 2, 3):
            assert steps[t] in nbr[steps[t - 1]]

    with pytest.raises(ValueError, match="walk_len"):
        random_walks(e, walk_len=-1)
    with pytest.raises(ValueError, match="num_walks"):
        random_walks(e, num_walks=0)


def test_walk_skipgrams_known_and_selfjoin_pin(spark):
    """Skip-gram pair counts from walk trajectories: known-answer on a
    hand-checked two-walk set, pinned against an INDEPENDENT self-join
    formulation (step-range join on the trajectory key — a different
    shape than the library's row-local array fan-out), symmetric by
    construction, windows clamp at trajectory edges, guards raise."""
    from pyspark.sql import functions as F

    from bi_gcp_stitch_repl_spark.functions.graph import walk_skipgrams

    rows = [
        # walk (0, 0): 10 -> 11 -> 12 -> 10
        (0, 0, 0, 10), (0, 0, 1, 11), (0, 0, 2, 12), (0, 0, 3, 10),
        # walk (5, 1): 20 -> 21
        (5, 1, 0, 20), (5, 1, 1, 21),
    ]
    w = spark.createDataFrame(rows, "start long, wid int, step int, node long")

    got = {
        (r.center, r.context): r.cnt
        for r in walk_skipgrams(w, window=1).collect()
    }
    expect = {
        (10, 11): 1, (11, 10): 1, (11, 12): 1, (12, 11): 1,
        (12, 10): 1, (10, 12): 1,
        (20, 21): 1, (21, 20): 1,
    }
    assert got == expect

    # window=2 via the independent self-join replica
    for win in (2, 3):
        lib = {
            (r.center, r.context): r.cnt
            for r in walk_skipgrams(w, window=win).collect()
        }
        a = w.selectExpr("start", "wid", "step AS si", "node AS center")
        b = w.selectExpr("start AS s2", "wid AS w2", "step AS sj",
                         "node AS context")
        rep_rows = (
            a.join(
                b,
                (a.start == b.s2) & (a.wid == b.w2)
                & (F.col("si") != F.col("sj"))
                & (F.abs(F.col("si") - F.col("sj")) <= win),
            )
            .groupBy("center", "context")
            .count()
            .collect()
        )
        rep = {(r.center, r.context): r["count"] for r in rep_rows}
        assert lib == rep
        # symmetry: every (a,b) has the mirror (b,a) with equal count
        assert all(lib[(b_, a_)] == c for (a_, b_), c in lib.items())

    with pytest.raises(ValueError, match="window"):
        walk_skipgrams(w, window=0)
    with pytest.raises(ValueError, match="missing column"):
        walk_skipgrams(w.drop("wid"))


def test_walk_skipgrams_duckdb_oracle_parity(spark):
    """Cross-engine pin ahead of the r12 catalog registration: the
    skip-gram aggregation over REAL library-generated walks must match a
    DuckDB relational twin (step-range self-join + count over the same
    walk rows — the formulation the x_walk_skipgrams oracle will use).
    Walks come from random_walks on a seeded 60-edge graph, so the
    trajectories exercised are the production operator's own output."""
    import duckdb

    from bi_gcp_stitch_repl_spark.functions.graph import (
        random_walks,
        walk_skipgrams,
    )

    import random as _random

    rng = _random.Random(411)
    edges = {(rng.randrange(20), rng.randrange(20)) for _ in range(60)}
    e = spark.createDataFrame(
        sorted(edges), "src long, dst long"
    )
    walks = random_walks(e, walk_len=5, num_walks=3)
    got = {
        (r.center, r.context): r.cnt
        for r in walk_skipgrams(walks, window=2).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE walks(start BIGINT, wid INT, step INT, node BIGINT)")
    con.executemany(
        "INSERT INTO walks VALUES (?, ?, ?, ?)",
        [(r.start, r.wid, r.step, r.node) for r in walks.collect()],
    )
    oracle = {
        (c, x): n
        for c, x, n in con.execute(
            """
            SELECT a.node AS center, b.node AS context, COUNT(*) AS cnt
            FROM walks a JOIN walks b
              ON a.start = b.start AND a.wid = b.wid
             AND a.step <> b.step AND abs(a.step - b.step) <= 2
            GROUP BY 1, 2
            """
        ).fetchall()
    }
    assert got == oracle and len(got) > 10


def test_modularity_driver_matches_distributed(spark, driver_rows):
    """The r11 driver fast path (probe-collected Q decomposition) must be
    bit-identical to the distributed aggregations — including negative
    contributions (truncate-toward-zero divide), a NULL community label
    (never equi-joins → (c, 0, 0, 0) row), and communities with no
    edges."""
    from bi_gcp_stitch_repl_spark.functions.graph import modularity

    e = spark.createDataFrame(
        [(0, 1, 1), (1, 2, 1), (0, 2, 1),
         (3, 4, 1), (4, 5, 1), (3, 5, 1), (2, 3, 1), (5, 6, 2)],
        "src long, dst long, w long",
    )
    lab = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 3), (4, 3), (5, 5), (6, None), (7, 9)],
        "node long, community long",
    )
    key = lambda t: (t[0] is None, t[0])  # noqa: E731 — NULL community row
    drv = sorted(map(tuple, modularity(e, lab).collect()), key=key)
    dist = sorted(
        map(tuple, driver_rows(0, lambda: modularity(e, lab)).collect()),
        key=key,
    )
    assert drv == dist
    # singleton partition: every contrib negative, identical both paths
    labn = spark.createDataFrame(
        [(i, i) for i in range(7)], "node long, community long"
    )
    drv = sorted(map(tuple, modularity(e, labn).collect()))
    dist = sorted(
        map(tuple, driver_rows(0, lambda: modularity(e, labn)).collect())
    )
    assert drv == dist and all(r[3] < 0 for r in drv)


def test_cc_driver_singleton_attach_matches_distributed(spark, driver_rows):
    """The r11 driver-side singleton attach (full label list as one local
    relation when the node set also fits the probe) must emit exactly the
    labels ∪ anti-join-singletons set — including a NULL node id, which
    the anti-join keeps as a (NULL, NULL) singleton."""
    from bi_gcp_stitch_repl_spark.functions.graph import connected_components

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src long, dst long"
    )
    nodes = spark.createDataFrame(
        [(1,), (2,), (3,), (10,), (11,), (42,), (99,), (None,)],
        "node long",
    )
    drv = sorted(
        map(tuple, connected_components(e, nodes=nodes).collect()),
        key=lambda t: (t[0] is None, t[0]),
    )
    dist = sorted(
        map(
            tuple,
            driver_rows(
                0, lambda: connected_components(e, nodes=nodes)
            ).collect(),
        ),
        key=lambda t: (t[0] is None, t[0]),
    )
    assert drv == dist
    assert (None, None) in drv and (42, 42) in drv


def test_undirected_canonical_rows_python_matches_sql(spark):
    """The undirected canonicalization the unweighted graph operators run
    on: the Python spelling (dispatch.canonical_rows, the driver-local
    path) and the SQL spelling (weighted_edges' plan) emit the same
    ``(u, v, w)`` rows — least/greatest keys, NULL endpoints and
    self-loops dropped, duplicates counted — for long and string keys;
    a VALUES input canonicalizes without scheduling a job."""
    from pyspark.sql import functions as F

    from bi_gcp_stitch_repl_spark.functions.dispatch import (
        canonical_rows,
        weighted_edges,
    )

    fixtures = [
        (
            [(1, 2), (2, 1), (3, 3), (None, 4), (5, None), (2, 7), (7, 2),
             (7, 2)],
            "src long, dst long",
        ),
        (
            [("b", "a"), ("a", "b"), ("z", "z"), (None, "q"), ("m", "q"),
             ("q", "m")],
            "src string, dst string",
        ),
    ]
    for rows, ddl in fixtures:
        df = spark.createDataFrame(rows, ddl).withColumn("w", F.lit(1))
        py = sorted(map(tuple, canonical_rows([r + (1,) for r in rows], "und")))
        sql = sorted(map(tuple, weighted_edges(df, "und", probe=False).plan.collect()))
        assert py == sql and py, (py, sql)
    sc = spark.sparkContext
    vals = spark.sql(
        "SELECT * FROM VALUES (1, 2, 1), (2, 1, 1), (4, 4, 1) AS t(src, dst, w)"
    )
    sc.setJobGroup("und_values_probe", "VALUES canonicalization")
    try:
        ew = weighted_edges(vals, "und")
    finally:
        sc.setJobGroup(None, None)
    assert sorted(map(tuple, ew.rows)) == [(1, 2, 2)]
    assert not sc.statusTracker().getJobIdsForGroup("und_values_probe")


def test_sparsify_driver_path_matches_distributed(spark, driver_rows):
    """r11-opt: _sparsify_mean_relative's probe-based driver path must
    emit exactly the distributed cross-multiplication filter's rows
    (incl. NULL-weight drop), for both keep_weight spellings."""
    from bi_gcp_stitch_repl_spark.queries.relational_ext import (
        _sparsify_mean_relative,
    )

    rows = [
        (1, 2, 10),
        (2, 3, 1),
        (3, 4, 7),
        (4, 5, None),
        (5, 5, 2),
        (6, 7, 4),
    ]
    df = spark.createDataFrame(rows, "src int, dst int, w long")
    for kw in (False, True):
        drv = sorted(
            map(tuple, _sparsify_mean_relative(df, keep_weight=kw).collect())
        )
        dist = sorted(
            map(
                tuple,
                driver_rows(
                    0, lambda: _sparsify_mean_relative(df, keep_weight=kw)
                ).collect(),
            )
        )
        assert drv == dist and drv, (kw, drv, dist)


def test_lpa_modularity_local_input_fast_path(spark, driver_rows):
    """r11-opt: the fully-local LPA/modularity fast path (VALUES edge
    input + Python weighted aggregate) must be bit-identical to the
    forced-distributed loops, and dispatch.canonical_rows must refuse
    (None) any pair whose Σ|w| leaves int64 so the engine's ANSI overflow
    semantics are preserved by the distributed fallback."""
    from bi_gcp_stitch_repl_spark.functions.dispatch import canonical_rows
    from bi_gcp_stitch_repl_spark.functions.graph import (
        label_propagation,
        modularity,
    )

    e = spark.sql(
        "SELECT * FROM VALUES"
        " (1L, 2L, 5L), (2L, 1L, 3L), (2L, 3L, 1L), (3L, 4L, 9L),"
        " (4L, 4L, 7L), (5L, 6L, 2L), (9L, 1L, 4L)"
        " AS t(src, dst, w)"
    )
    nd = spark.createDataFrame([(v,) for v in range(1, 8)], "node long")
    drv = sorted(map(tuple, label_propagation(e, nd).collect()))
    dist = sorted(
        map(tuple, driver_rows(0, lambda: label_propagation(e, nd)).collect())
    )
    assert drv == dist and drv
    lab = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 11), (4, 11), (5, 12), (6, 12)],
        "node long, community long",
    )
    drv = sorted(map(tuple, modularity(e, lab).collect()))
    dist = sorted(
        map(tuple, driver_rows(0, lambda: modularity(e, lab)).collect())
    )
    assert drv == dist and drv
    # the in-universe restriction: node 9's edge must not contribute
    assert all(r is not None for r in drv)
    # overflow refusal (int64 boundary): Python would happily sum past
    # 2^63 — the helper must return None instead, also when this order's
    # partial sums stay in range (the bound is Σ|w|, not a prefix sum)
    big = 2**62
    rows = [(1, 2, big), (2, 1, big), (3, 4, 1)]
    assert canonical_rows(rows, "und") is None
    assert canonical_rows([(1, 2, big), (2, 1, -big), (1, 2, big)], "und") is None
    assert canonical_rows([(1, 2, 5), (2, 1, None)], "und") == [(1, 2, 5)]
    assert canonical_rows([(1, 2, 5), (2, 1, None)], "und")[0].w == 5


def test_mixed_sign_overflow_same_outcome_both_paths(spark, driver_rows):
    """Mixed-sign weights whose partial sums leave int64 in one
    summation order but not in another. The engine sums each input
    slice first; the driver canonicalization sums in collection order.
    The default bound and ``DRIVER_ROWS = 0`` must reach the same
    outcome — the same rows or the same error — for both orders."""
    from bi_gcp_stitch_repl_spark.functions.graph import (
        label_propagation,
        modularity,
        pagerank_fixedpoint,
    )

    big = 2**62
    n = 2 * spark.sparkContext.defaultParallelism
    nd = spark.createDataFrame([(v,) for v in range(1, 5)], "node long")
    lab = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 11), (4, 11)], "node long, community long"
    )
    ops = {
        "pagerank": lambda e, **kw: pagerank_fixedpoint(e, nd, **kw),
        "lpa": lambda e, **kw: label_propagation(e, nd, **kw),
        "modularity": lambda e, **kw: modularity(e, lab, **kw),
    }

    def outcome(fn):
        try:
            return sorted(map(tuple, fn().collect()))
        except Exception as exc:  # noqa: BLE001 — the outcome IS the error
            return type(exc).__name__

    # the VALUES relation is sliced two rows per task: the first order's
    # prefix sums stay in range but its second slice (big + big) does
    # not; the second order overflows only in collection order
    for ws in ((-big, 5, big, big), (big, 5, big, -big)):
        vals = [f"(1L, 2L, {w}L)" for w in ws]
        vals += ["(3L, 4L, 1L)"] * (n - len(vals))
        e = spark.sql(f"SELECT * FROM VALUES {', '.join(vals)} AS t(src, dst, w)")
        for name, op in ops.items():
            fast = outcome(lambda: op(e))
            slow = outcome(lambda: driver_rows(0, lambda: op(e)))
            assert fast == slow, (name, ws, fast, slow)


@pytest.mark.parametrize(
    "op, jobs",
    [
        # (VALUES edge frame, groupBy aggregate): default-bound jobs
        # of the operator call, measured before the dispatch seam existed
        ("pagerank_fixedpoint", (1, 4)),
        ("hits_fixedpoint", (1, 4)),
        ("sssp_weighted", (2, 5)),
        ("label_propagation", (1, 10)),
        ("modularity", (1, 8)),
    ],
)
def test_weighted_dispatch_job_counts(spark, op, jobs):
    """The weighted operators' dispatch cost is pinned: a VALUES edge
    frame canonicalizes job-free (only the node-side probe runs), a
    groupBy aggregate pays one checkpoint plus one probe. A seam change
    that adds a probe or a checkpoint fails here."""
    from pyspark.sql import functions as F

    from bi_gcp_stitch_repl_spark.functions import graph

    sc = spark.sparkContext
    vals = spark.sql(
        "SELECT * FROM VALUES (1L, 2L, 5L), (2L, 1L, 3L), (2L, 3L, 1L),"
        " (3L, 4L, 9L), (4L, 4L, 7L), (4L, 1L, 2L) AS t(src, dst, w)"
    )
    agg = (
        spark.createDataFrame(vals.collect())
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    nodes = spark.createDataFrame([(v,) for v in range(1, 5)], "node long")
    side = {
        "sssp_weighted": nodes.limit(1),
        "modularity": spark.createDataFrame(
            [(1, 10), (2, 10), (3, 11), (4, 11)], "node long, community long"
        ),
    }.get(op, nodes)
    got = []
    for i, edges in enumerate((vals, agg)):
        group = f"dispatch_{op}_{i}"
        sc.setJobGroup(group, "weighted dispatch cost")
        try:
            getattr(graph, op)(edges, side)
        finally:
            sc.setJobGroup(None, None)
        got.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert tuple(got) == jobs


@pytest.mark.parametrize(
    "op, jobs",
    [
        # (VALUES edge frame, groupBy aggregate): default-bound jobs
        # of the operator call. A VALUES frame canonicalizes job-free;
        # bfs_hops adds its seed probe (connected_components reads its
        # nodes from the canonical list). An aggregate pays the
        # canonical checkpoint plus one probe.
        ("triangle_counts", (0, 4)),
        ("clustering_coefficients", (0, 4)),
        ("k_core", (0, 4)),
        ("bfs_hops", (1, 5)),
        ("random_walks", (0, 4)),
        ("connected_components", (0, 4)),
    ],
)
def test_undirected_dispatch_job_counts(spark, op, jobs):
    """The unweighted graph operators' and connected components'
    dispatch cost is pinned: a VALUES edge frame canonicalizes job-free,
    a groupBy aggregate pays one canonical checkpoint plus one probe."""
    from pyspark.sql import functions as F

    from bi_gcp_stitch_repl_spark.functions import graph

    sc = spark.sparkContext
    vals = spark.sql(
        "SELECT * FROM VALUES (1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L),"
        " (4L, 4L), (4L, 1L), (1L, 3L) AS t(src, dst)"
    )
    agg = (
        spark.createDataFrame(vals.collect())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    fn = {
        "k_core": lambda e: graph.k_core(e, 2),
        "bfs_hops": lambda e: graph.bfs_hops(e, seeds),
    }.get(op, getattr(graph, op))
    got = []
    for i, edges in enumerate((vals, agg)):
        group = f"und_dispatch_{op}_{i}"
        sc.setJobGroup(group, "undirected dispatch cost")
        try:
            fn(edges)
        finally:
            sc.setJobGroup(None, None)
        got.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert tuple(got) == jobs


@pytest.mark.parametrize(
    "family, jobs",
    [
        # (VALUES input, aggregate input, forced-distributed): jobs of
        # the call, measured before these families moved onto
        # dispatch.driver_path. An aggregate is pinned once and probed
        # once; a VALUES vocabulary is still an aggregate to pin.
        ("bpe_train", (3, 3, 17)),
        # a row-local projection: probed, never pinned
        ("kmeans_lloyd", (0, 2, 0)),
        ("_sparsify_mean_relative", (0, 3, 0)),
        # _trade_edge_frame then _sparsify_mean_relative: the trade
        # frame emitted as VALUES, the pinned trade aggregate, and both
        # forced distributed
        ("trade_sparsify", (6, 7, 6)),
        # x_sssp_trade's cost frame (sssp_weighted stubbed out): the
        # same three trade-frame shapes feed its cost dispatch, which
        # re-reads the trade frame unpinned
        ("x_sssp_trade", (6, 6, 5)),
        # the pool collect and the query take; the emit costs no job
        ("mmr_rerank", (4, 3, 4)),
    ],
)
def test_ported_dispatch_job_counts(spark, driver_rows, monkeypatch, family, jobs):
    """The driver_path families' dispatch cost is pinned on a VALUES
    input, an aggregate input and the forced-distributed path (each
    call run twice, the second counted, so first-read file listings
    do not count)."""
    from pyspark.sql import functions as F

    from bi_gcp_stitch_repl_spark.functions import bpe, graph, rerank, similarity
    from bi_gcp_stitch_repl_spark.queries import relational_ext as rx

    from tests.conftest import SF_SMOKE

    sc = spark.sparkContext

    def agg(df, key, col):
        return (
            spark.createDataFrame(df.collect(), df.schema)
            .groupBy(key)
            .agg(col)
        )

    words = spark.sql(
        "SELECT * FROM VALUES ('low', 5L), ('lower', 2L), ('newest', 6L),"
        " ('widest', 3L) AS t(word, freq)"
    )
    emb = spark.sql(
        "SELECT * FROM VALUES (1L, array(0.0D, 0.0D)),"
        " (2L, array(1.0D, 0.0D)), (3L, array(9.0D, 9.0D)),"
        " (4L, array(8.0D, 9.0D)) AS t(vec_id, embedding)"
    )
    edges = spark.sql(
        "SELECT * FROM VALUES (1L, 2L, 5L), (2L, 1L, 3L), (2L, 3L, 1L),"
        " (3L, 4L, 9L), (4L, 1L, 2L) AS t(src, dst, w)"
    )
    query = spark.sql("SELECT array(1.0D, 0.0D) AS embedding")

    def trade(bound):
        return driver_rows(bound, lambda: rx._trade_edge_frame(spark, SF_SMOKE))

    monkeypatch.setattr(
        graph, "sssp_weighted",
        lambda ec, seeds: ec.selectExpr("src AS node", "cost AS dist"),
    )

    def sssp_trade(bound):
        real = rx._trade_edge_frame
        with monkeypatch.context() as mp:
            mp.setattr(
                rx, "_trade_edge_frame",
                lambda s, d: driver_rows(bound, lambda: real(s, d)),
            )
            return rx.x_sssp_trade(spark, SF_SMOKE)

    vals, aggd, forced = {
        "bpe_train": (
            lambda: bpe.bpe_train(words, 4),
            lambda: bpe.bpe_train(agg(words, "word", F.sum("freq").alias("freq")), 4),
            lambda: driver_rows(0, lambda: bpe.bpe_train(words, 4)),
        ),
        "kmeans_lloyd": (
            lambda: similarity.kmeans_lloyd(emb, k=2, n_iter=2),
            lambda: similarity.kmeans_lloyd(
                agg(emb, "vec_id", F.first("embedding").alias("embedding")),
                k=2, n_iter=2,
            ),
            lambda: driver_rows(
                0, lambda: similarity.kmeans_lloyd(emb, k=2, n_iter=2)
            ),
        ),
        "_sparsify_mean_relative": (
            lambda: rx._sparsify_mean_relative(edges, keep_weight=True),
            lambda: rx._sparsify_mean_relative(
                agg(edges, ["src", "dst"], F.sum("w").alias("w")),
                keep_weight=True,
            ),
            lambda: driver_rows(
                0, lambda: rx._sparsify_mean_relative(edges, keep_weight=True)
            ),
        ),
        "trade_sparsify": (
            lambda: rx._sparsify_mean_relative(trade(100_000)[0]),
            lambda: rx._sparsify_mean_relative(trade(0)[0]),
            lambda: driver_rows(
                0, lambda: rx._sparsify_mean_relative(trade(0)[0])
            ),
        ),
        "x_sssp_trade": (
            lambda: sssp_trade(100_000),
            lambda: sssp_trade(0),
            lambda: driver_rows(0, lambda: rx.x_sssp_trade(spark, SF_SMOKE)),
        ),
        "mmr_rerank": (
            lambda: rerank.mmr_rerank(emb, query, k=2, pool=4),
            lambda: rerank.mmr_rerank(
                agg(emb, "vec_id", F.first("embedding").alias("embedding")),
                query, k=2, pool=4,
            ),
            lambda: driver_rows(
                0, lambda: rerank.mmr_rerank(emb, query, k=2, pool=4)
            ),
        ),
    }[family]
    got = []
    for i, call in enumerate((vals, aggd, forced)):
        for rep in range(2):
            group = f"ported_{family}_{i}_{rep}"
            sc.setJobGroup(group, "ported dispatch cost")
            try:
                call()
            finally:
                sc.setJobGroup(None, None)
        got.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert tuple(got) == jobs


#: parity inputs: the hub-and-tail graph (K4 with a tail into a triangle,
#: plus a separate pair), string keys, an empty frame, a lone self-loop
_PARITY_INPUTS = {
    "hub_tail": (
        [(a, b) for a in range(4) for b in range(4) if a < b]
        + [(3, 4), (4, 5), (5, 6), (6, 4), (7, 8)],
        "long",
    ),
    "strings": ([("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")], "string"),
    "empty": ([], "long"),
    "self_loop": ([(5, 5)], "long"),
}


@pytest.mark.parametrize(
    "op",
    [
        "triangle_counts", "clustering_coefficients", "k_core", "bfs_hops",
        "random_walks", "connected_components",
    ],
)
def test_unweighted_graph_paths_agree_at_threshold(spark, driver_rows, op):
    """Driver and distributed paths give the same rows: the default
    bound and ``DRIVER_ROWS`` at k-1, k and k+1 around the canonical edge
    count k all match ``DRIVER_ROWS = 0``. random_walks skips the
    string keys: its step hash is integer arithmetic."""
    from bi_gcp_stitch_repl_spark.functions import graph
    from bi_gcp_stitch_repl_spark.functions.dispatch import canonical_rows

    how = "min" if op == "connected_components" else "und"
    for name, (rows, key) in _PARITY_INPUTS.items():
        if op == "random_walks" and key == "string":
            continue
        e = spark.createDataFrame(rows, f"x {key}, y {key}")
        seeds = spark.createDataFrame(
            [("a",), ("zz",)] if key == "string" else [(0,), (42,)],
            f"node {key}",
        )
        fn = {
            "k_core": lambda: graph.k_core(e, 2),
            "bfs_hops": lambda: graph.bfs_hops(e, seeds),
        }.get(op, lambda: getattr(graph, op)(e))
        k = len(canonical_rows([(a, b, 1) for a, b in rows], how))
        want = sorted(map(tuple, driver_rows(0, fn).collect()))
        # a bound <= 0 IS the forced-distributed call: not re-run
        bounds = [t for t in (k - 1, k, k + 1) if t > 0]
        for bound in (100_000, *bounds):
            got = sorted(map(tuple, driver_rows(bound, fn).collect()))
            assert got == want, (name, bound, got, want)
        assert want or name != "hub_tail"
        if (op, name) == ("triangle_counts", "strings"):
            assert want == [("a", 1), ("b", 1), ("c", 1)]
        if (op, name) == ("bfs_hops", "hub_tail"):
            assert (42, 0) in want and 7 not in dict(want)


#: weighted parity inputs by name: ``(src, dst, w)`` rows, and the VALUES
#: SQL when the input is a driver-local relation instead of a
#: createDataFrame frame. The (5, 6) pair carries only NULL weights; the
#: mixed-sign (1, 2) key has Σ|w| = 3·2^62 − 1 ≥ 2^63 while no partial
#: sum, in any order, leaves int64. Every operator runs the first four;
#: ``_EXTRA_INPUTS`` adds the rest where they bear on the operator.
_WEIGHTED_INPUTS = {
    "null_w": (
        [(1, 2, 5), (2, 3, 1), (5, 6, None), (6, 5, None), (3, 1, 2)], None
    ),
    "mixed_sign": (
        [(1, 2, 2**62), (2, 3, 1), (1, 2, -(2**62)), (3, 1, 2),
         (1, 2, 2**62 - 1)],
        None,
    ),
    "empty": ([], None),
    "strings": ([("a", "b", 5), ("b", "c", 1), ("c", "a", 2), ("c", "d", 3)], None),
    "null_w_values": (
        [(1, 2, 5), (5, 6, None)],
        "SELECT * FROM VALUES (1L, 2L, 5L), (5L, 6L, CAST(NULL AS BIGINT))"
        " AS t(src, dst, w)",
    ),
    "zero_w": ([(0, 1, 0), (1, 2, 3)], None),
    "corridor": (
        [(0, 1, 5), (1, 2, 1), (0, 2, 9), (2, 3, 1), (9, 9, 7), (4, 0, 2)],
        None,
    ),
}

#: bpe_train's ``(word, freq)`` inputs, same hazards
_BPE_INPUTS = {
    "null_w": [("low", 5), ("lower", None), ("newest", 6), ("widest", 3)],
    "mixed_sign": [("ab", 2**62), ("ab", -(2**62)), ("ab", 2**62 - 1), ("bab", 3)],
    "empty": [],
    "strings": [("löw", 5), ("lower", 2), ("newest", 6), ("wïdest", 3)],
}

#: kmeans_lloyd's ``(vec_id, embedding)`` inputs: a NULL element, ids of
#: both signs near the int64 ends, no rows, string ids
_KMEANS_INPUTS = {
    "null_w": [(1, [0.0, 0.0]), (2, [1.0, None]), (3, [9.0, 9.0]), (4, [8.0, 9.0])],
    "mixed_sign": [
        (-(2**62), [-1.5, 2.0]), (2**62, [3.0, -4.0]), (0, [0.5, 0.5]),
        (7, [-3.0, -3.0]),
    ],
    "empty": [],
    "strings": [("a", [0.0, 1.0]), ("b", [1.0, 0.0]), ("c", [5.0, 5.0])],
}


def _key_type(rows) -> str:
    return "string" if rows and isinstance(rows[0][0], str) else "long"


def _weighted_case(spark, op, name):
    """``(call, k)`` for one operator on one input: ``call`` runs the
    operator with its default round count, ``k`` is the row count of the
    input its dispatch probes."""
    from bi_gcp_stitch_repl_spark.functions import graph
    from bi_gcp_stitch_repl_spark.functions.bpe import bpe_train
    from bi_gcp_stitch_repl_spark.functions.dispatch import canonical_rows
    from bi_gcp_stitch_repl_spark.functions.similarity import kmeans_lloyd
    from bi_gcp_stitch_repl_spark.queries.relational_ext import (
        _sparsify_mean_relative,
    )

    if op == "bpe_train":
        rows = _BPE_INPUTS[name]
        wf = spark.createDataFrame(rows, "word string, freq long")
        return (lambda: bpe_train(wf, 4)), len({w for w, _ in rows})
    if op == "kmeans_lloyd":
        rows = _KMEANS_INPUTS[name]
        emb = spark.createDataFrame(
            rows, f"vec_id {_key_type(rows)}, embedding array<double>"
        )
        return (lambda: kmeans_lloyd(emb, k=2, n_iter=2)), len(rows)
    rows, sql = _WEIGHTED_INPUTS[name]
    key = _key_type(rows)
    e = (
        spark.sql(sql) if sql
        else spark.createDataFrame(rows, f"src {key}, dst {key}, w long")
    )
    if op == "_sparsify_mean_relative":
        return (lambda: _sparsify_mean_relative(e, keep_weight=True)), len(rows)
    ends = sorted({v for r in rows for v in r[:2]})
    nodes = list(range(ends[0], ends[-1] + 1)) if key == "long" and ends else ends
    nd = spark.createDataFrame([(v,) for v in nodes], f"node {key}")
    lab = spark.createDataFrame(
        [(v, 10 + i // 2) for i, v in enumerate(nodes) if v in ends],
        f"node {key}, community long",
    )
    seeds = spark.createDataFrame(
        [(v,) for v in nodes[:1] + ["zz" if key == "string" else 42]],
        f"node {key}",
    )
    call, how = {
        "pagerank_fixedpoint": (
            lambda: graph.pagerank_fixedpoint(e, nd, node_type=key), "sum"
        ),
        "hits_fixedpoint": (
            lambda: graph.hits_fixedpoint(e, nd, node_type=key), "sum"
        ),
        "sssp_weighted": (lambda: graph.sssp_weighted(e, seeds), "min"),
        "label_propagation": (
            lambda: graph.label_propagation(e, nd, node_type=key), "und"
        ),
        "modularity": (lambda: graph.modularity(e, lab, node_type=key), "und"),
    }[op]
    return call, len(canonical_rows([(a, b, 1) for a, b, _ in rows], how))


def _outcome(fn):
    """The sorted result rows, or the error: its type, and for the
    operators' own ValueError guards its message too."""
    try:
        return sorted(map(tuple, fn().collect()), key=repr)
    except Exception as exc:  # noqa: BLE001 — the outcome IS the error
        msg = f": {exc}" if isinstance(exc, ValueError) else ""
        return type(exc).__name__ + msg


_WEIGHTED_OPS = (
    "pagerank_fixedpoint", "hits_fixedpoint", "sssp_weighted",
    "label_propagation", "modularity",
)

#: inputs beyond the four hard ones: the fully-local LPA fast path on a
#: NULL weight, and SSSP's corridor graph (an isolated source, a
#: self-loop, unreachable nodes) and positive-weight guard
_EXTRA_INPUTS = {
    "label_propagation": ("null_w_values",),
    "sssp_weighted": ("corridor", "zero_w"),
}


@pytest.mark.parametrize(
    "op", [*_WEIGHTED_OPS, "bpe_train", "kmeans_lloyd", "_sparsify_mean_relative"]
)
def test_weighted_paths_agree_at_threshold(spark, driver_rows, op):
    """Driver and distributed paths reach the same outcome — the same
    rows or the same error — on the hard inputs: NULL weights (also as a
    driver-local VALUES input), a mixed-sign key whose Σ|w| passes 2^63,
    an empty input and string keys. The default bound and
    ``DRIVER_ROWS`` at k-1, k and k+1 around the probed row count k all
    match ``DRIVER_ROWS = 0``."""
    hard = ("null_w", "mixed_sign", "empty", "strings")
    for name in (*hard, *_EXTRA_INPUTS.get(op, ())):
        if op == "label_propagation" and name == "strings":
            continue  # label ids are the integral node ids
        call, k = _weighted_case(spark, op, name)
        want = _outcome(lambda: driver_rows(0, call))
        for bound in (100_000, *(t for t in (k - 1, k, k + 1) if t > 0)):
            got = _outcome(lambda: driver_rows(bound, call))
            assert got == want, (name, bound, got, want)
        if op in _WEIGHTED_OPS and name.startswith("null_w"):
            assert isinstance(want, list) and want, (name, want)
        if name == "zero_w":
            assert want.startswith("ValueError") and "positive" in want
        if (op, name) == ("sssp_weighted", "corridor"):
            assert dict(want)[2] == 6 and dict(want)[3] == 7


def test_pagerank_teleport_probe_bounded_r12(spark, driver_rows):
    """r12-opt (r11 advice): the personalized-PageRank driver path must
    PROBE the teleport set instead of collecting it unbounded — a seed
    list above the dispatch bound falls back to the distributed
    semi-join path with identical results."""
    from bi_gcp_stitch_repl_spark.functions.graph import pagerank_fixedpoint

    e = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 1), (3, 1, 2)], "src long, dst long, w long"
    )
    nd = spark.createDataFrame([(v,) for v in range(1, 4)], "node long")
    # teleport cardinality (20) exceeds DRIVER_ROWS (8) while the
    # edge/node frames fit: the driver path must decline, and the
    # distributed branch must produce the same ranks as a 0 bound
    tel = spark.range(1, 21).selectExpr("id AS node")

    def ranks(bound):
        return sorted(
            map(
                tuple,
                driver_rows(
                    bound, lambda: pagerank_fixedpoint(e, nd, teleport=tel)
                ).collect(),
            )
        )

    got, want = ranks(8), ranks(0)
    assert got == want and got


def _persistent_rdd_ids(sc) -> set:
    """Ids of the context's persisted RDDs. Compare ADDED ids, not sizes:
    the async ContextCleaner may unpersist other tests' stale
    checkpoints mid-call, but it only ever removes entries."""
    ids = set()
    it = sc._jsc.sc().getPersistentRDDs().keysIterator()
    while it.hasNext():
        ids.add(it.next())
    return ids


def test_undirected_edges_checkpoint_lifecycle(spark, driver_rows):
    """Storage of the unweighted graph operators' dispatch. Above the
    bound exactly one persisted RDD remains and it holds the canonical
    (deduplicated) edge list — never the raw pre-dedup list, which at
    scale would fill executor storage just to decide "distributed".
    Below the bound nothing stays persisted after an operator call."""
    from bi_gcp_stitch_repl_spark.functions import graph

    sc = spark.sparkContext
    pairs = [(i % 7, (i * 3) % 7) for i in range(200)]
    raw = spark.createDataFrame(pairs, "src long, dst long")
    want = sorted({(min(a, b), max(a, b)) for a, b in pairs if a != b})
    before = _persistent_rdd_ids(sc)
    ew = driver_rows(5, lambda: graph._und_edges(raw))
    added = _persistent_rdd_ids(sc) - before
    assert ew.rows is None and len(want) > 5
    assert added == {ew.frame._jdf.queryExecution().analyzed().rdd().id()}
    assert sorted((r.u, r.v) for r in ew.frame.collect()) == want
    ew.free()
    seeds = spark.createDataFrame([(1,)], "node long")
    for call in (
        lambda: graph.triangle_counts(raw),
        lambda: graph.clustering_coefficients(raw),
        lambda: graph.k_core(raw, 2),
        lambda: graph.bfs_hops(raw, seeds),
        lambda: graph.random_walks(raw),
        lambda: graph.connected_components(raw),
    ):
        before = _persistent_rdd_ids(sc)
        call()
        assert not _persistent_rdd_ids(sc) - before


@pytest.mark.parametrize("op", ["triangle_counts", "k_core"])
def test_join_upstream_evaluated_once_above_bound(spark, driver_rows, op):
    """An edge frame whose root is a shuffle join (no aggregate on top)
    is evaluated ONCE per operator call above the dispatch bound: the
    canonical edge list is checkpointed once and both the probe and the
    distributed loop read the checkpoint. Upstream rows are counted
    through an identity mapInArrow below the join."""
    from bi_gcp_stitch_repl_spark.functions import graph

    passes = spark.sparkContext.accumulator(0)

    def identity(batches):
        for batch in batches:
            passes.add(batch.num_rows)
            yield batch

    n = 60
    left = spark.createDataFrame(
        [(i, i % 7) for i in range(n)], "k long, src long"
    ).mapInArrow(identity, "k long, src long")
    right = spark.createDataFrame(
        [(i, (i * 2) % 7) for i in range(n)], "k long, dst long"
    )
    edges = left.join(right.hint("merge"), "k").select("src", "dst")
    fn = {
        "triangle_counts": graph.triangle_counts,
        "k_core": lambda e: graph.k_core(e, 2),
    }[op]
    # 6 canonical edges (two triangles), above the bound of 5
    out = driver_rows(5, lambda: fn(edges)).collect()
    assert out and passes.value == n, (op, passes.value)


@pytest.mark.parametrize("bound", [100_000, 3])
def test_connected_components_evaluates_upstream_once(spark, driver_rows, bound):
    """connected_components reads a lazy edge upstream once per call, on
    the driver path and above the bound: the canonical edges and the node
    set (which keeps self-loop-only nodes) share one evaluation. Upstream
    rows are counted through an identity mapInArrow."""
    from bi_gcp_stitch_repl_spark.functions import graph

    passes = spark.sparkContext.accumulator(0)

    def identity(batches):
        for batch in batches:
            passes.add(batch.num_rows)
            yield batch

    rows = [(i, i + 1) for i in range(0, 18, 2)] + [(30, 30), (31, 31)] + [(1, 3)] * 9
    edges = spark.createDataFrame(rows, "src long, dst long")
    out = driver_rows(
        bound,
        lambda: graph.connected_components(
            edges.mapInArrow(identity, edges.schema)
        ),
    ).collect()
    assert passes.value == len(rows) == 20
    labels = {r["node"]: r["component"] for r in out}
    assert len(out) == len(labels) == 20
    assert labels[3] == labels[2] == 0 and labels[30] == 30 and labels[31] == 31


def test_connected_components_null_endpoint_without_node_frame(spark, driver_rows):
    """Without a node frame the nodes are the edges' non-NULL endpoints on
    both paths: an edge with one NULL end adds its other end as a
    singleton, and a NULL end names no node."""
    from bi_gcp_stitch_repl_spark.functions import graph

    e = spark.createDataFrame(
        [(1, 2), (5, None), (None, 7), (None, None), (9, 9)], "src long, dst long"
    )
    for bound in (100_000, 0):
        got = driver_rows(bound, lambda: graph.connected_components(e))
        got = sorted(map(tuple, got.collect()))
        assert got == [(1, 1), (2, 1), (5, 5), (7, 7), (9, 9)], bound


def test_sssp_local_input_fast_path_r12(spark, driver_rows):
    """r12-opt: sssp_weighted's fully-local fast path (VALUES edge input
    collected job-free, min-aggregation + Bellman-Ford in Python) must be
    bit-identical to the forced-distributed loop, keep the positive-weight
    guard, and route NULL weights to the engine."""
    from bi_gcp_stitch_repl_spark.functions.graph import sssp_weighted

    e = spark.sql(
        "SELECT * FROM VALUES"
        " (1L, 2L, 5L), (1L, 2L, 3L), (2L, 3L, 1L), (3L, 3L, 9L),"
        " (CAST(NULL AS BIGINT), 4L, 2L), (4L, 5L, 7L)"
        " AS t(src, dst, w)"
    )
    seeds = spark.createDataFrame([(1,), (4,)], "node long")
    got = sorted(map(tuple, sssp_weighted(e, seeds).collect()))
    want = sorted(
        map(tuple, driver_rows(0, lambda: sssp_weighted(e, seeds)).collect())
    )
    assert got == want and got
    # min-aggregated duplicate edge: (1,2) keeps cost 3
    assert dict(got)[2] == 3
    import pytest as _pytest

    bad = spark.sql("SELECT * FROM VALUES (1L, 2L, 0L) AS t(src, dst, w)")
    with _pytest.raises(ValueError, match="positive"):
        sssp_weighted(bad, seeds)
    # NULL weight: identical to the forced-distributed behavior
    en = spark.sql(
        "SELECT * FROM VALUES (1L, 2L, 4L),"
        " (2L, 3L, CAST(NULL AS BIGINT)) AS t(src, dst, w)"
    )
    got = sorted(map(tuple, sssp_weighted(en, seeds).collect()))
    want = sorted(
        map(tuple, driver_rows(0, lambda: sssp_weighted(en, seeds)).collect())
    )
    assert got == want and got
