"""Graph operators over Spark edge lists.

Reachability and structure (connected components, BFS hops, k-core,
triangle counts, clustering coefficients, random walks and their
skip-gram pairs) and fixed-point integer scores (PageRank, HITS,
weighted shortest paths, label propagation, modularity). Integer
operators are bit-exact, so the catalog's hash gate and DuckDB twins
pin them.

Every operator but the float :func:`pagerank` and
:func:`walk_skipgrams` canonicalizes its edges through
:func:`.dispatch.weighted_edges` — one canonicalize-and-probe seam.
When the canonical edge list fits ``dispatch.DRIVER_ROWS`` rows the
operator's Python kernel runs on the driver and its result is emitted
as a local relation; above it the distributed loop runs on the
checkpointed canonical frame. Both paths give the same rows (pinned per
operator in the test suite); the unweighted operators pass unit weights
to the undirected spelling (:func:`_und_edges`).

Connected components (dup-cluster resolution): near-duplicate detection
(functions.dedup, queries.extensions) produces PAIRS, a training-data
pipeline needs CLUSTERS. The distributed path is alternating
large-star / small-star (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14): O(log n) rounds on any graph, each
round two hash-shuffle jobs (groupBy-min + join), no vertex ever holding
its adjacency in one task — where min-label propagation needs
O(diameter) rounds and dies on long chains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dispatch import (
    WeightedEdges,
    distinct_probe_rows,
    free_local_checkpoint,
    local_df,
    probe_rows,
    weight_guard,
    weighted_edges,
)


def _symmetrize(edges: DataFrame) -> DataFrame:
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return edges.unionByName(rev).filter(F.col("src") != F.col("dst")).distinct()


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor larger than u to u's minimum neighborhood node."""
    sym = _symmetrize(edges)
    mins = sym.groupBy("src").agg(F.min("dst").alias("_m"))
    mins = mins.select("src", F.least("_m", F.col("src")).alias("_m"))
    return (
        sym.filter(F.col("dst") > F.col("src"))
        .join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame, pre_oriented: bool = False) -> DataFrame:
    """Orient edges to the larger endpoint, connect all smaller neighbors
    (and the center) to the minimum. ``pre_oriented=True`` skips the
    symmetrize+filter when the input already satisfies dst < src —
    _large_star's output does by construction (_m <= src < dst), and
    re-symmetrizing it paid a distinct() exchange over 2E rows on every
    CC round for rows the filter immediately discarded."""
    oriented = (
        edges if pre_oriented else _symmetrize(edges).filter(F.col("dst") < F.col("src"))
    )
    mins = oriented.groupBy("src").agg(F.min("dst").alias("_m"))
    nbr_edges = (
        oriented.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
    )
    center_edges = mins.select("src", F.col("_m").alias("dst"))
    return (
        nbr_edges.unionByName(center_edges)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_iter: int = 30,
) -> DataFrame:
    """(node, component) labeling; component = min node id in the component.

    ``edges``: two-column DataFrame (any names; first = src, second = dst).
    ``nodes``: optional one-column DataFrame of all node ids — isolated
    nodes (no edges) come back as singleton components. Without it the
    nodes are the edges' non-NULL endpoints: an edge with a NULL end adds
    its other end as a singleton and no connectivity. Each iteration is
    localCheckpoint()ed: iterative algorithms otherwise stack an
    unbounded lineage that blows up planning time and executor stacks.

    **Adaptive physical strategy** (the same runtime branch discipline as
    the Jaccard bitset kernel): after dedup, if the edge list fits
    ``DRIVER_ROWS`` rows it is union-found ON THE DRIVER and the
    labels broadcast back — a dup-pair graph is usually tiny next to its
    corpus (near-dup density, not corpus size), and the distributed
    alternating-star loop costs ~4 shuffle rounds of pure scheduling
    overhead on a 300-edge graph. Above the bound the O(log n)
    large-star/small-star rounds run unchanged; results are identical
    (min-label semantics both paths).
    """
    if max_iter < 1:
        # with zero rounds the post-loop labeling would run on raw
        # (non-fixpoint) edges and the non-convergence guard below could
        # never fire (changed starts False) — exactly the silent
        # split-component failure that guard exists to prevent
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    src, dst = edges.columns[:2]
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # widen BOTH id columns to their common type up front: the driver
    # fast path builds its label schema from one column's type, so an
    # (int, long) edge frame would overflow the narrow field there while
    # the distributed path's unions silently widened — same inputs must
    # take the same types on both paths
    common = e.select(F.array("src", "dst").alias("_x")).schema[0].dataType.elementType
    e = e.select(F.col("src").cast(common).alias("src"), F.col("dst").cast(common).alias("dst"))
    if nodes is None:
        # every non-NULL endpoint is a node: an edge with one NULL end
        # keeps its other end, as a self-loop
        e = e.select(
            F.coalesce("src", "dst").alias("src"), F.coalesce("dst", "src").alias("dst")
        )
    else:
        n0, = nodes.columns[:1]
        nodes = nodes.select(F.col(n0).cast(common).alias("node"))
    # the directed, distinct edge list is the "sum" canonical aggregate
    # (its unit weights are ignored) — not "und", whose least/greatest
    # re-keying adds a shuffle over pair lists that are already
    # distinct. It keeps self-loops, so a node appearing ONLY in
    # self-loop edges is labelled (a singleton component) from the
    # canonical list on both paths, and the raw edges are read once.
    # When it fits, the probe rows ARE the union-find input.
    ew = weighted_edges(e.withColumn("w", F.lit(1)), "sum")
    if ew.rows is not None:
        ew.free()
        if nodes is not None:
            nodes = nodes.distinct()
        return _cc_driver(ew.rows, nodes, e.sparkSession, common)
    # the star rounds label every endpoint of a non-loop edge; what is
    # left to attach as singletons is the loop-only nodes and the
    # caller's isolated nodes
    loops = ew.frame.filter(F.col("src") == F.col("dst")).select(F.col("src").alias("node"))
    nodes = loops if nodes is None else nodes.unionByName(loops).distinct()
    e = ew.frame.filter(F.col("src") != F.col("dst")).select("src", "dst")
    changed = False
    for _ in range(max_iter):
        after = _small_star(_large_star(e), pre_oriented=True).localCheckpoint(
            eager=True
        )
        # Fixpoint: both star passes are monotone (they never merge distinct
        # components or split one), so edge-set equality means convergence.
        # Checked as (equal size) ∧ (after ⊆ e): multiset inclusion plus
        # equal cardinality is equality — one exceptAll job instead of two
        # (both run on the checkpointed edge set, but each is a full
        # set-difference shuffle; rounds dominate wall time on small
        # graphs).
        changed = after.count() != e.count() or not after.exceptAll(e).isEmpty()
        e = after
        if not changed:
            break
    if changed:
        # the post-loop labeling assumes every edge is (member, root) —
        # true ONLY at the fixpoint. Returning anyway would silently emit
        # split components and duplicate (node, component) rows; with the
        # documented O(log n) convergence, hitting this means max_iter
        # was set far below log2(n) — a configuration error, not a data
        # condition to paper over.
        raise RuntimeError(
            f"connected_components did not converge within max_iter="
            f"{max_iter} rounds; raise max_iter (alternating-star "
            "converges in O(log n) rounds)"
        )
    # At the fixpoint every edge is (member, root); add the roots themselves.
    labels = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("node"), F.col("dst").alias("component"))
    labels = labels.unionByName(roots).distinct()
    singletons = nodes.join(labels, "node", "left_anti").select(
        "node", F.col("node").alias("component")
    )
    return labels.unionByName(singletons)


def _cc_driver(
    erows: list, nodes: DataFrame | None, spark, id_type
) -> DataFrame:
    """Small-graph path: union-find over the collected edge list (self-loops
    included, so loop-only nodes label themselves), labels re-emitted as a
    DataFrame of ``id_type`` ids; ``nodes`` is the distinct one-column
    ``node`` frame, or None when the edges name every node. Deterministic
    min-label components — identical output to the distributed star
    algorithm. The singleton attach dispatches the same way the edge side did: when the
    node set also fits ``DRIVER_ROWS`` (one probe job) the full
    label list — including singletons — is built in Python and emitted as
    ONE local relation, replacing the distributed anti-join + union the
    downstream consumer would otherwise execute (and typically
    checkpoint) against a broadcast of the edge labels; past the
    bound the anti-join runs unchanged."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    touched = set()
    for row in erows:
        a, b = row.src, row.dst
        touched.add(a)
        touched.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    label_rows = [(n, find(n)) for n in sorted(touched)]
    import pyspark.sql.types as T

    schema = T.StructType(
        [T.StructField("node", id_type), T.StructField("component", id_type)]
    )
    if nodes is None:
        return local_df(spark, label_rows, schema)
    nrows = probe_rows(nodes)
    if nrows is not None:
        # full label list driver-side: same (node, component) set as
        # labels ∪ (anti-join singletons), one local relation. A NULL
        # node id rides along as a (NULL, NULL) singleton — exactly
        # what the anti-join emits (NULL never equals a label key) —
        # and sorts after every real id (row order is cosmetic).
        label_rows = sorted(
            label_rows
            + [(r.node, r.node) for r in nrows if r.node not in touched],
            key=lambda t: (t[0] is None, t[0]),
        )
        return local_df(spark, label_rows, schema)
    labels = spark.createDataFrame(label_rows, schema)
    singletons = nodes.join(
        F.broadcast(labels), "node", "left_anti"
    ).select("node", F.col("node").alias("component"))
    return labels.unionByName(singletons)


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    n_iter: int = 10,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """PageRank over a directed edge list (src, dst): (node, rank) after
    ``n_iter`` power iterations (Page et al. 1999 — public).

    Scale shape per iteration: one join of ranks onto the out-degree-
    annotated edge list (both pre-partitioned on src — the exchange is
    paid once outside the loop), one groupBy(dst) sum of contributions.
    Dangling nodes' mass redistributes uniformly (computed as a 1-row
    aggregate, broadcast into the update), so total rank stays 1.
    Each iteration localCheckpoints — same unbounded-lineage rule as
    :func:`connected_components`.

    Determinism note: contribution sums are IEEE double adds whose order
    depends on partitioning (inherent to floating-point power
    iteration); ranks are correct to ~1e-15 but not bit-pinned. Tests
    assert structural properties (mass conservation, known-graph
    orderings) with tolerances — this operator deliberately stays a
    library function, not a hash-checked catalog entry.
    """
    src, dst = edges.columns[:2]
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    node_df = e.select(F.col("src").alias("node")).unionByName(
        e.select(F.col("dst").alias("node"))
    )
    if nodes is not None:
        node_df = node_df.unionByName(
            nodes.select(F.col(nodes.columns[0]).alias("node"))
        )
    node_df = node_df.distinct().localCheckpoint(eager=True)
    n_nodes = node_df.count()
    if n_nodes == 0:
        # empty graph: return an empty (node, rank) frame instead of
        # dividing by zero below
        return node_df.select("node", F.lit(1.0).alias("rank")).limit(0)

    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    e_deg = e.join(deg, "src").repartition("src").localCheckpoint(eager=True)
    # the dangling NODE SET is loop-invariant — materialize it once;
    # deriving it from `deg` inside the loop would re-execute the raw
    # edge scan + distinct + degree shuffle on every one of the n_iter
    # iterations (deg's lineage roots at the un-checkpointed edge list)
    dangling_nodes = node_df.join(
        deg.select(F.col("src").alias("node")), "node", "left_anti"
    ).localCheckpoint(eager=True)

    ranks = node_df.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    for _ in range(n_iter):
        contrib = (
            e_deg.join(
                ranks.select(F.col("node").alias("src"), "rank"), "src"
            )
            .select("dst", (F.col("rank") / F.col("out_deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_mass"))
        )
        # dangling mass = rank held by nodes with no out-edges
        dangling = (
            ranks.join(dangling_nodes, "node", "left_semi")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        base = (1.0 - damping) / n_nodes
        ranks = (
            node_df.join(
                contrib.select(F.col("dst").alias("node"), "in_mass"),
                "node",
                "left",
            )
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce(F.col("in_mass"), F.lit(0.0)) + F.col("dm") / n_nodes)
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def pagerank_fixedpoint(
    edges: DataFrame,
    nodes: DataFrame,
    n_iter: int = 4,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
    frac_scale: int = 10**6,
    node_type: str = "long",
    teleport: DataFrame | None = None,
) -> DataFrame:
    """Weighted PageRank in FIXED-POINT integer arithmetic: (node,
    rank_fp) after ``n_iter`` power iterations, ranks carried as BIGINTs
    scaled by ``scale``. ``node_type`` is the key type both frames are
    cast to — "long" for numeric ids, "string" for domain-keyed graphs
    (jobs.pipelines.rank_domains).

    ``teleport`` (optional): a one-column DataFrame of SEED nodes turns
    this into **personalized PageRank** — the random surfer restarts
    (and dangling mass teleports) uniformly over the seed set instead of
    all nodes: ``base_v = scale·(den−num) div (den·|S|)`` for seeds,
    0 elsewhere, and the per-iteration dangling redistribution likewise
    lands on seeds only. Ranks then measure proximity-weighted authority
    FROM the seed set — crawl seed expansion ("which domains does my
    trusted list flow to"), related-entity scoring, topic-conditioned
    authority. Seeds outside ``nodes`` are ignored (the subgraph
    contract); an empty intersection raises (an all-zero restart vector
    has no fixed point). ``teleport=None`` keeps the classic uniform
    restart — that code path is untouched byte-for-byte. Initial ranks
    stay uniform ``scale div n`` in BOTH modes (documented choice: the
    fixed-``n_iter`` result is a deterministic function of the init, and
    a uniform start measures seed influence after exactly ``n_iter``
    propagation steps).

    **Adaptive physical strategy** (the :func:`connected_components`
    discipline): the input is usually an already-AGGREGATED graph, and
    when both the edge list and the node set fit ``DRIVER_ROWS``
    rows the loop runs ON THE DRIVER over the collected aggregate — the
    distributed loop's per-iteration checkpoints are pure scheduling
    overhead on a 625-edge nation graph. Because every operation is
    integer, the two paths are BIT-IDENTICAL (property-tested against
    an independent sequential replica on random graphs), so the branch
    is invisible to callers; above the bound the checkpointed
    join+sum rounds run unchanged.

    Why this exists next to :func:`pagerank`: the float version's
    contribution sums are IEEE adds whose order depends on partitioning,
    so it deliberately stays out of the hash-checked catalog. Here every
    operation is integer multiply / floor-divide / sum — associative,
    commutative, partition-order-independent — so two engines (or two
    cluster layouts) produce IDENTICAL bits. The price is documented
    truncation drift: each floor-divide sheds < 1 unit of mass, so total
    mass decays by O(edges/frac_scale) per iteration instead of being
    conserved exactly — irrelevant for ranking (all nodes shed
    proportionally) and bounded by construction.

    Update rule (everything integer; div = floor division):
        frac(u,v)  = w(u,v) * frac_scale div W(u)          [per edge, once]
        contrib(v) = Σ_u rank(u) * frac(u,v) div frac_scale
        dmn        = (Σ_{dangling u} rank(u)) div n
        rank'(v)   = base + damping_num*(contrib(v)+dmn) div damping_den
        base       = scale*(damping_den-damping_num) div (damping_den*n)

    Overflow headroom: rank ≤ scale (1e12) and frac ≤ frac_scale (1e6),
    so the largest product is ≤ 1e18 < 2^63-1; callers raising ``scale``
    must keep scale*frac_scale and 2*damping_num*scale inside int64 —
    the factor 2 because the damped term multiplies (contrib + dmn),
    which reaches scale*(1 + 1/n) ≤ 2*scale at n=1, not scale alone.

    Scale shape: ``edges`` is usually an AGGREGATED graph (counts from a
    fact-table join) — the expensive distributed work happens upstream,
    once; the loop is n_iter joins + groupBy sums on the aggregate.
    Loop-invariant frames (out-degree fractions, node set, dangling set)
    localCheckpoint once OUTSIDE the loop so iterations never re-execute
    the upstream join; per-iteration dangling mass stays in-plan as a
    1-row broadcast (no driver round-trip).
    """
    # the damped product is damping_num*(contrib+dmn), and contrib+dmn can
    # reach scale*(1+1/n) ≤ 2*scale — guard the actual worst case, not
    # damping_num*scale (a custom scale near 1e17 would pass the looser
    # guard yet wrap int64 in the distributed path while the driver
    # path's Python bignums stayed exact, breaking bit-identity)
    if scale * frac_scale >= 2**63 or 2 * damping_num * scale >= 2**63:
        raise ValueError("fixed-point scales overflow int64")
    if len(edges.columns) < 3:
        raise ValueError(
            "edges needs (src, dst, weight) columns — for an unweighted"
            " graph pass F.lit(1) as the weight"
        )
    # canonicalize to ONE row per (src, dst): duplicate edge rows must
    # pre-aggregate, because the out-weight FRACTION floor-divides per
    # row — two rows w=1,w=2 truncate differently than one row w=3, and
    # the result would then depend on the caller's representation (the
    # exact class of nondeterminism this function exists to exclude;
    # caught by the hypothesis property suite's self-loop example). The
    # aggregate drops NULL endpoints (SQL joins and Python dict membership
    # disagree about NULL, so letting one through would diverge the two
    # physical paths)
    ew = weighted_edges(edges, "sum", node_type)
    node_df, nrows, n = _node_universe(nodes, node_type, ew.rows is not None)
    if n == 0:
        return node_df.select("node", F.lit(0).cast("long").alias("rank_fp"))
    wb = weight_guard(ew, ew.rows)
    if wb.mx is not None and wb.mx * frac_scale >= 2**63:
        # the distributed CAST(w * frac_scale) would ANSI-abort (or
        # wrap) where the driver path's Python bignums succeed
        raise ValueError(
            f"max edge weight {wb.mx} * frac_scale overflows int64"
        )
    seeds = None
    if nrows is not None and teleport is not None:
        # Python set intersection IS the left-semi join here: the
        # node universe is fully in hand (nrows) and both sides are
        # NULL-filtered hashable keys. The teleport frame is PROBED,
        # not blindly collected — a seed list larger than the
        # dispatch bound falls back to the distributed semi-join
        # instead of exhausting driver memory (r11 advice)
        trows = distinct_probe_rows(
            teleport.select(
                F.col(teleport.columns[0]).cast(node_type).alias("node")
            ).filter(F.col("node").isNotNull())
        )
        if trows is None:
            nrows = None
            node_df = node_df.localCheckpoint(eager=True)
        else:
            seeds = {r.node for r in trows} & {r.node for r in nrows}
            if not seeds:
                raise ValueError(
                    "teleport set is empty or disjoint from nodes — an"
                    " all-zero restart vector has no fixed point"
                )
    if nrows is not None:
        return _pagerank_fp_driver(
            ew.rows, nrows, node_df, n, n_iter, damping_num,
            damping_den, scale, frac_scale, seeds=seeds,
        )
    e = ew.frame
    seeds_df = None
    m = n
    if teleport is not None:
        seeds_df = (
            teleport.select(
                F.col(teleport.columns[0]).cast(node_type).alias("node")
            )
            .filter(F.col("node").isNotNull())
            .distinct()
            .join(node_df, "node", "left_semi")
            .localCheckpoint(eager=True)
        )
        m = seeds_df.count()
        if m == 0:
            raise ValueError(
                "teleport set is empty or disjoint from nodes — an"
                " all-zero restart vector has no fixed point"
            )
    tot = e.groupBy("src").agg(F.sum("w").alias("w_out"))
    frac = (
        e.join(tot, "src")
        .select(
            "src",
            "dst",
            F.expr(f"CAST(w * {frac_scale} AS BIGINT) DIV w_out").alias("frac"),
        )
        .localCheckpoint(eager=True)
    )
    dangling = node_df.join(
        frac.select(F.col("src").alias("node")), "node", "left_anti"
    ).localCheckpoint(eager=True)
    if seeds_df is None:
        nodef = node_df
        base = (scale * (damping_den - damping_num)) // (damping_den * n)
        rank_expr = (
            f"CAST({base} AS BIGINT) + (({damping_num} *"
            f" (coalesce(contrib, CAST(0 AS BIGINT)) + dmn))"
            f" DIV {damping_den})"
        )
    else:
        # seed flag materialized ONCE onto the node frame — the loop's
        # per-iteration rank projection branches on it (restart mass and
        # dangling redistribution land on seeds only)
        nodef = node_df.join(
            seeds_df.select("node", F.lit(True).alias("_seed")),
            "node",
            "left",
        ).localCheckpoint(eager=True)
        base_s = (scale * (damping_den - damping_num)) // (damping_den * m)
        rank_expr = (
            f"CASE WHEN _seed THEN CAST({base_s} AS BIGINT) +"
            f" (({damping_num} * (coalesce(contrib, CAST(0 AS BIGINT))"
            f" + dmn)) DIV {damping_den})"
            f" ELSE ({damping_num} * coalesce(contrib, CAST(0 AS BIGINT)))"
            f" DIV {damping_den} END"
        )
    rank = node_df.select(
        "node", F.lit(scale // n).cast("long").alias("rank_fp")
    )
    for _ in range(n_iter):
        contrib = (
            frac.join(rank.select(F.col("node").alias("src"), "rank_fp"), "src")
            .select(
                "dst",
                F.expr(f"(rank_fp * frac) DIV {frac_scale}").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        dmn = (
            rank.join(dangling, "node", "left_semi")
            .agg(
                F.expr(
                    f"CAST(coalesce(sum(rank_fp), 0) AS BIGINT) DIV {m}"
                ).alias("dmn")
            )
        )
        rank = (
            nodef.join(
                contrib.select(F.col("dst").alias("node"), "contrib"),
                "node",
                "left",
            )
            .crossJoin(F.broadcast(dmn))
            .select(
                "node",
                F.expr(rank_expr).alias("rank_fp"),
            )
            .localCheckpoint(eager=True)
        )
    return rank


def _node_universe(
    nodes: DataFrame, node_type: str, probe: bool
) -> tuple[DataFrame, list | None, int]:
    """``(node_df, nrows, n)``: the distinct NULL-free node set of the
    fixed-point operators. Probed UN-checkpointed when ``probe``
    and it fits (``nrows`` in hand; the driver path never touches the
    frame again), else checkpointed and counted for the distributed
    loop (``nrows`` None)."""
    proj = nodes.select(
        F.col(nodes.columns[0]).cast(node_type).alias("node")
    ).filter(F.col("node").isNotNull())
    node_df = proj.distinct()
    nrows = distinct_probe_rows(proj) if probe else None
    if nrows is not None:
        return node_df, nrows, len(nrows)
    node_df = node_df.localCheckpoint(eager=True)
    return node_df, None, node_df.count()


def _pagerank_fp_driver(
    erows: list,
    nrows: list,
    node_df: DataFrame,
    n: int,
    n_iter: int,
    damping_num: int,
    damping_den: int,
    scale: int,
    frac_scale: int,
    seeds: set | None = None,
) -> DataFrame:
    """Driver fast path: the same update rule over the collected
    aggregate (both frames proven ≤ DRIVER_ROWS by the caller).
    Integer arithmetic makes this bit-identical to the distributed loop
    — the property suite compares both against an independent replica.
    ``seeds`` (already intersected with the node set) switches to the
    personalized restart: base and dangling mass land on seeds only."""
    spark = node_df.sparkSession
    edges = [(r.src, r.dst, r.w) for r in erows]
    nodes = [r.node for r in nrows]
    w_out: dict = {}
    for s, _, w in edges:
        w_out[s] = w_out.get(s, 0) + w
    frac = {(s, d): (w * frac_scale) // w_out[s] for s, d, w in edges}
    dangling = [v for v in nodes if v not in w_out]
    base = (scale * (damping_den - damping_num)) // (damping_den * n)
    rank = {v: scale // n for v in nodes}
    for _ in range(n_iter):
        contrib = {v: 0 for v in nodes}
        for (s, d), f in frac.items():
            # mirror the distributed joins EXACTLY: an edge whose src is
            # not a ranked node contributes nothing (inner join of frac
            # onto ranks), and mass sent to a dst outside the node set is
            # dropped (node_df LEFT join contrib) — without these guards
            # the driver path KeyErrors on subgraph rankings the
            # distributed path handles
            if s in rank and d in contrib:
                contrib[d] += (rank[s] * f) // frac_scale
        if seeds is None:
            dmn = sum(rank[v] for v in dangling) // n
            rank = {
                v: base + ((damping_num * (contrib[v] + dmn)) // damping_den)
                for v in nodes
            }
        else:
            m = len(seeds)
            base_s = (
                scale * (damping_den - damping_num)
            ) // (damping_den * m)
            dmn = sum(rank[v] for v in dangling) // m
            rank = {
                v: (
                    base_s
                    + ((damping_num * (contrib[v] + dmn)) // damping_den)
                    if v in seeds
                    else (damping_num * contrib[v]) // damping_den
                )
                for v in nodes
            }
    out_type = dict(node_df.dtypes)["node"]
    return local_df(
        spark, [(v, rank[v]) for v in nodes], f"node {out_type}, rank_fp long"
    )


def hits_fixedpoint(
    edges: DataFrame,
    nodes: DataFrame,
    n_iter: int = 4,
    scale: int = 10**6,
    node_type: str = "long",
) -> DataFrame:
    """HITS hubs/authorities (Kleinberg) in FIXED-POINT integer
    arithmetic: ``(node, hub_fp, auth_fp)`` after ``n_iter`` mutual-
    reinforcement rounds over the DIRECTED weighted graph — the
    complement of PageRank on a crawl graph (a hub is a page whose
    out-links point at good authorities: link directories, indexes; an
    authority is a page good hubs point at — PageRank conflates the two
    roles into one score).

    Update rule (everything integer; div = floor division; edges outside
    the node universe drop, exactly like :func:`pagerank_fixedpoint`):
        auth_raw(v) = Σ_{(u,v)} hub(u)  * w(u,v)
        auth(v)     = auth_raw(v) * scale div Σ_x auth_raw(x)
        hub_raw(u)  = Σ_{(u,v)} auth(v) * w(u,v)
        hub(u)      = hub_raw(u)  * scale div Σ_x hub_raw(x)
        hub0        = scale div n
    Normalization is **L1** (sum), not the textbook L2: power iteration
    converges to the same principal direction under ANY positive
    rescaling, and an integer floor-divide by the SUM is bit-portable
    across engines where a sqrt is not (the DETERMINISM.md rule-5
    discipline — remove the transcendental, don't pin it). An all-zero
    side (no in-universe edges) normalizes to all-zero instead of
    dividing by zero.

    Overflow headroom (guarded loudly, not discovered): every score is
    ≤ ``scale`` after L1 normalization and the per-edge products sum
    over a score mass of ≤ scale, so the largest intermediates are
    ``scale² · max_edge_weight`` (the normalize multiply) and
    ``scale · total_edge_weight`` (the normalization sum) — both checked
    against int64 up front; heavier graphs lower ``scale`` or
    pre-normalize weights.

    **Adaptive physical strategy** (the pagerank_fixedpoint discipline):
    below ``DRIVER_ROWS`` the loop runs on the collected aggregate
    with Python integers — BIT-IDENTICAL to the distributed loop
    (property-tested against an independent sequential replica); above
    it, per-round hash joins + map-side-combinable sums on the
    checkpointed in-universe edge frame, normalization totals staying
    in-plan as 1-row broadcasts (no driver round-trip per round).
    """
    if len(edges.columns) < 3:
        raise ValueError(
            "edges needs (src, dst, weight) columns — for an unweighted"
            " graph pass F.lit(1) as the weight"
        )
    # one row per (src, dst) and NULL endpoints dropped up front — same
    # canonicalization (and same reasons) as pagerank_fixedpoint
    ew = weighted_edges(edges, "sum", node_type)
    node_df, nrows, n = _node_universe(nodes, node_type, ew.rows is not None)
    if n == 0:
        return node_df.select(
            "node",
            F.lit(0).cast("long").alias("hub_fp"),
            F.lit(0).cast("long").alias("auth_fp"),
        )
    if scale // n == 0:
        # hub0 = scale div n would start the iteration at exactly zero
        # everywhere and every round would stay zero — a silent all-zero
        # answer is a configuration error, not a result
        raise ValueError(f"scale={scale} must be >= node count {n}")
    wb = weight_guard(ew, ew.rows)
    if wb.mx is not None and (
        scale * scale * wb.mx >= 2**63 or scale * wb.tw >= 2**63
    ):
        raise ValueError(
            "fixed-point scale overflows int64 for these edge weights:"
            f" need scale^2*max_w ({scale}^2*{wb.mx}) and scale*total_w"
            f" ({scale}*{wb.tw}) below 2^63 — lower scale or"
            " pre-normalize weights"
        )
    if nrows is not None:
        return _hits_fp_driver(ew.rows, nrows, node_df, n, n_iter, scale)
    e = ew.frame
    # restrict to in-universe edges ONCE (pagerank folds this into its
    # per-round joins; HITS reads the edge frame 2x per round, so paying
    # the two semi-joins once outside the loop is strictly cheaper)
    eu = (
        e.join(node_df.select(F.col("node").alias("src")), "src", "left_semi")
        .join(node_df.select(F.col("node").alias("dst")), "dst", "left_semi")
        .select("src", "dst", "w")
        .localCheckpoint(eager=True)
    )
    norm = (
        f"CAST(coalesce((raw * {scale}) DIV nullif(t, CAST(0 AS BIGINT)),"
        " CAST(0 AS BIGINT)) AS BIGINT)"
    )
    hub = node_df.select(
        "node", F.lit(scale // n).cast("long").alias("hub_fp")
    )
    auth = None
    for _ in range(n_iter):
        araw = (
            eu.join(hub.select(F.col("node").alias("src"), "hub_fp"), "src")
            .select("dst", F.expr("hub_fp * w").alias("x"))
            .groupBy("dst")
            .agg(F.sum("x").alias("raw"))
        )
        at = araw.agg(F.coalesce(F.sum("raw"), F.lit(0)).alias("t"))
        auth = (
            node_df.join(
                araw.select(F.col("dst").alias("node"), "raw"), "node", "left"
            )
            .crossJoin(F.broadcast(at))
            .select("node", F.expr(norm).alias("auth_fp"))
            .localCheckpoint(eager=True)
        )
        hraw = (
            eu.join(auth.select(F.col("node").alias("dst"), "auth_fp"), "dst")
            .select("src", F.expr("auth_fp * w").alias("x"))
            .groupBy("src")
            .agg(F.sum("x").alias("raw"))
        )
        ht = hraw.agg(F.coalesce(F.sum("raw"), F.lit(0)).alias("t"))
        hub = (
            node_df.join(
                hraw.select(F.col("src").alias("node"), "raw"), "node", "left"
            )
            .crossJoin(F.broadcast(ht))
            .select("node", F.expr(norm).alias("hub_fp"))
            .localCheckpoint(eager=True)
        )
    return hub.join(auth, "node").select("node", "hub_fp", "auth_fp")


def _hits_fp_driver(
    erows: list, nrows: list, node_df: DataFrame, n: int, n_iter: int,
    scale: int,
) -> DataFrame:
    """Driver fast path: the same update rule over the collected
    aggregate — bit-identical to the distributed loop (all integer; the
    property suite compares both against an independent replica)."""
    spark = node_df.sparkSession
    nodes = [r.node for r in nrows]
    ns = set(nodes)
    eu = [
        (r.src, r.dst, r.w)
        for r in erows
        if r.src in ns and r.dst in ns
    ]
    hub = {v: scale // n for v in nodes}
    auth = {v: 0 for v in nodes}
    for _ in range(n_iter):
        araw = {v: 0 for v in nodes}
        for s, d, w in eu:
            araw[d] += hub[s] * w
        t = sum(araw.values())
        auth = {v: (araw[v] * scale) // t if t else 0 for v in nodes}
        hraw = {v: 0 for v in nodes}
        for s, d, w in eu:
            hraw[s] += auth[d] * w
        t = sum(hraw.values())
        hub = {v: (hraw[v] * scale) // t if t else 0 for v in nodes}
    out_type = dict(node_df.dtypes)["node"]
    return local_df(
        spark,
        [(v, hub[v], auth[v]) for v in nodes],
        f"node {out_type}, hub_fp long, auth_fp long",
    )


def _und_edges(
    edges: DataFrame, node_type: str | None = None
) -> WeightedEdges:
    """The simple undirected graph of ``edges``' first two columns —
    endpoints least/greatest-ordered into ``(u, v)``, NULL endpoints,
    self-loops and duplicates dropped — as :func:`.dispatch.weighted_edges`'
    ``"und"`` spelling over unit weights (``w`` counts the duplicates
    and is ignored). ``rows`` feeds the driver kernels; the lazily
    checkpointed ``frame`` feeds the distributed loops, so a
    join-bearing upstream runs once on either path."""
    src, dst = edges.columns[:2]
    return weighted_edges(
        edges.select(
            F.col(src).alias("src"), F.col(dst).alias("dst"),
            F.lit(1).alias("w"),
        ),
        "und", node_type,
    )


def _node_schema(ew: WeightedEdges, cols: str) -> str:
    """Driver-path result schema: ``node`` of the canonical endpoint type
    (the least/greatest common type — analysis only, no job), then
    ``cols``."""
    return f"node {ew.plan.schema['u'].dataType.simpleString()}, {cols}"


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts: ``(node, n_triangles)`` — how many
    3-cliques each node participates in. The standard cohesion /
    link-farm signal over a domain or interaction graph (a link farm is
    triangle-dense; an organic authority is wedge-dense but
    triangle-sparse).

    ``edges``: first two columns are the endpoints; direction, weights,
    duplicates and self-loops are all ignored (the graph is treated as
    simple and undirected).

    Scale shape — degree orientation, the classic MapReduce triangle
    trick (Suri & Vassilvitskii, WWW'11): orient every undirected edge
    from its lower-(degree, key) endpoint to the higher one. Every
    triangle then has exactly ONE consistent orientation a→b→c with
    a→c, so one equi-join builds wedges rooted at the LOW-degree vertex
    and one more closes them: wedge count is Σ outdeg(v)² where outdeg
    is bounded by O(√m) under this orientation — a heavy hub (the
    web's power-law tail) generates almost no wedges because nearly all
    its edges point INTO it. A key-ordered orientation (the naive
    a<b<c) would root every wedge of a hub's neighborhood at the hub.
    All joins are hash equi-joins on node keys; counts are integers, so
    the result is partition-order-independent and hash-gate safe. The
    oriented edge frame is checkpointed once — three joins read it.

    Determinism: the (degree, key) order is total (key breaks degree
    ties), so the orientation — and therefore every intermediate frame —
    is unique for a given input graph; counts are orientation-invariant
    anyway.

    When the canonical edges fit ``DRIVER_ROWS`` the same
    degree-oriented wedge count runs in Python over the probe rows
    (bounded by the same Σ outdeg² ≤ O(m^1.5)) instead of three joins
    over a 25-node frame.
    """
    ew = _und_edges(edges)
    if ew.rows is not None:
        ew.free()
        _, tri = _tri_counts_py(ew.rows)
        return local_df(
            edges.sparkSession, sorted(tri.items()),
            _node_schema(ew, "n_triangles long"),
        )
    tri = _triangles(ew.frame)
    # the result reads only the oriented checkpoint
    ew.free()
    return tri


def _triangles(und: DataFrame) -> DataFrame:
    """The distributed degree-oriented wedge count over a checkpointed
    canonical ``(u, v, …)`` frame (see :func:`triangle_counts`):
    ``(node, n_triangles)`` for nodes in at least one triangle."""
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    w = und.select("u", "v").join(
        deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u"
    ).join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = w.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
    ).localCheckpoint(eager=True)
    ab = o.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = o.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = o.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"], "left_semi").select("a", "b", "c")
    # ONE read of the triangle frame: explode each triangle into its 3
    # corners (a 3-way union of tri would re-run the wedge join three
    # times — Catalyst does not CTE-materialize shared subtrees)
    corners = tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def _tri_counts_py(urows: list) -> tuple[dict, dict]:
    """``(degrees, triangle counts)`` per node over canonical undirected
    edge rows — the driver spelling of the degree-oriented wedge count:
    orient each edge from its lower-(degree, key) endpoint, intersect
    out-adjacency per oriented edge. Same Σ outdeg² wedge bound as the
    distributed joins, counts identical (orientation-invariant
    integers)."""
    deg: dict = {}
    for r in urows:
        deg[r.u] = deg.get(r.u, 0) + 1
        deg[r.v] = deg.get(r.v, 0) + 1
    out: dict = {}
    for r in urows:
        u, v = r.u, r.v
        if (deg[u], u) < (deg[v], v):
            out.setdefault(u, set()).add(v)
        else:
            out.setdefault(v, set()).add(u)
    tri: dict = {}
    for a, outa in out.items():
        for b in outa:
            outb = out.get(b)
            if not outb:
                continue
            for c in outa & outb:
                tri[a] = tri.get(a, 0) + 1
                tri[b] = tri.get(b, 0) + 1
                tri[c] = tri.get(c, 0) + 1
    return deg, tri


def clustering_coefficients(
    edges: DataFrame,
    coeff_scale: int = 10**6,
) -> DataFrame:
    """Local clustering coefficients over the simple undirected graph:
    ``(node, degree, n_triangles, coeff_fp)`` where ``coeff_fp`` is the
    fixed-point ratio ``2·triangles·coeff_scale // (degree·(degree−1))``
    — how close each node's neighborhood is to a clique, the per-node
    companion of :func:`triangle_counts` (link-farm neighborhoods score
    near ``coeff_scale``; organic hubs near 0). Degree-<2 nodes carry 0
    (no possible wedge), and nodes appear iff they have at least one
    edge (callers left-join their node dimension, the triangle_counts
    contract).

    Integer arithmetic end to end (the pagerank_fixedpoint discipline):
    the ratio is a BIGINT floor-divide, so results are
    partition-order-independent and the catalog twin (x_clustering_trade)
    hash-pins them. Costs exactly triangle_counts' wedge joins + one
    degree aggregate, both over the SAME checkpointed canonical edge
    frame (one normalization pass); one extra join on the node key.
    Below ``DRIVER_ROWS`` degrees, triangles and the ratio all run
    in Python over the probe rows (nonnegative ints, so Python // IS the
    BIGINT DIV).

    Overflow headroom (stated, not discovered): the intermediate
    ``2·n_triangles·coeff_scale`` needs ``n_triangles < 2^62/coeff_scale``
    (≈4.6e12 at the default 1e6) — reached only by a node of degree
    ~3e6 sitting in a near-clique, at which point lower ``coeff_scale``
    (the coefficient itself is always ≤ coeff_scale); ANSI mode aborts
    rather than wraps.
    """
    ew = _und_edges(edges)
    if ew.rows is not None:
        ew.free()
        degm, tri = _tri_counts_py(ew.rows)
        rows = [
            (
                n,
                d,
                tri.get(n, 0),
                (2 * tri.get(n, 0) * coeff_scale) // (d * (d - 1))
                if d >= 2
                else 0,
            )
            for n, d in sorted(degm.items())
        ]
        return local_df(
            edges.sparkSession, rows,
            _node_schema(ew, "degree long, n_triangles long, coeff_fp long"),
        )
    und = ew.frame
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    out = deg.join(_triangles(und), "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias(
            "n_triangles"
        ),
    )
    return out.withColumn(
        "coeff_fp",
        F.when(
            F.col("degree") >= 2,
            F.expr(
                f"(2 * n_triangles * CAST({coeff_scale} AS BIGINT))"
                " DIV (degree * (degree - 1))"
            ),
        ).otherwise(F.lit(0)).cast("long"),
    )


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_iter: int = 30,
) -> DataFrame:
    """Multi-source unweighted BFS hop counts over the simple undirected
    graph: ``(node, hops)`` = each reachable node's minimum hop distance
    from ANY source node — the reachability/distance primitive behind
    crawl-frontier expansion ("how many link hops from the seed list"),
    seed-set influence radii, and filtering a corpus graph to a
    neighborhood of trusted nodes. Unreachable nodes are absent (callers
    left-join their node dimension); source nodes return hops 0 even
    when isolated (a seed is at distance 0 from itself by definition).

    Semantics: simple undirected graph (direction / duplicate edges /
    self-loops / NULL endpoints ignored — the :func:`triangle_counts`
    contract); deterministic by construction (a node's hop count is its
    FIRST discovery round — min over arrival orders, no tie to break).

    Scale shape: frontier BFS, not full relaxation — round ``i`` joins
    the (shrinking) frontier against the checkpointed symmetric edge
    list and anti-joins the known set, so each round's cost tracks the
    frontier's edge boundary, not the whole graph; rounds are bounded by
    the graph's eccentricity from the seed set (single-digit on web
    graphs — the small-world property); the convergence probe is ONE
    cheap ``isEmpty`` on the already-checkpointed new-nodes frame, and
    superseded rounds' checkpoints are released as they die
    (:func:`free_local_checkpoint`, the k_core storage contract).
    ``max_iter`` is a loud backstop: non-convergence raises. When both
    the canonical edges and the seed set fit ``DRIVER_ROWS`` the
    whole frontier loop runs in Python over the probe rows.
    """
    src_proj = sources.select(
        F.col(sources.columns[0]).alias("node")
    ).filter(F.col("node").isNotNull())
    dist0 = src_proj.distinct().select(
        "node", F.lit(0).cast("long").alias("hops")
    )
    ew = _und_edges(edges)
    srows = (
        distinct_probe_rows(src_proj)
        if ew.rows is not None
        else None
    )
    if srows is not None:
        ew.free()
        return _bfs_driver(
            ew.rows, srows, ew.plan.schema["u"].dataType, dist0, max_iter
        )
    und = ew.frame
    sym = (
        und.select("u", "v")
        .unionByName(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .localCheckpoint(eager=True)
    )
    # the one-directional frame is fully consumed by sym's materialization
    ew.free()
    dist = dist0.localCheckpoint(eager=True)
    frontier = dist
    for i in range(1, max_iter + 1):
        new = (
            sym.join(
                frontier.select(F.col("node").alias("u")), "u", "left_semi"
            )
            .select(F.col("v").alias("node"))
            .distinct()
            .join(dist, "node", "left_anti")
            .select("node", F.lit(i).cast("long").alias("hops"))
            .localCheckpoint(eager=True)
        )
        if new.isEmpty():
            return dist
        old_dist, old_frontier = dist, frontier
        dist = old_dist.unionByName(new).localCheckpoint(eager=True)
        frontier = new
        # the superseded distance set and the PREVIOUS frontier are dead
        # the moment the new union materializes (this round's discovery
        # already consumed them); round 1's frontier IS the seed dist, so
        # guard against the double free
        free_local_checkpoint(old_dist)
        if old_frontier is not old_dist:
            free_local_checkpoint(old_frontier)
    raise RuntimeError(
        f"bfs_hops did not converge within max_iter={max_iter} rounds;"
        " raise max_iter (rounds are bounded by the seed set's graph"
        " eccentricity)"
    )


def _bfs_driver(
    urows: list, srows: list, utype, dist0: DataFrame,
    max_iter: int,
) -> DataFrame:
    """Driver fast path: the same frontier expansion over the probed
    edge/seed rows — hop counts are first-discovery rounds, identical to
    the distributed loop (no ties to break). Raises the same
    non-convergence error under the same condition (round ``max_iter``
    still discovering). The result schema mirrors the distributed
    union's type coercion: seed dtype alone when nothing was discovered,
    the seed/edge common type otherwise."""
    adj: dict = {}
    for r in urows:
        adj.setdefault(r.u, set()).add(r.v)
        adj.setdefault(r.v, set()).add(r.u)
    hops = {r.node: 0 for r in srows}
    frontier = set(hops)
    discovered = converged = False
    for i in range(1, max_iter + 1):
        new = set()
        for n in frontier:
            for nb in adj.get(n, ()):
                if nb not in hops:
                    new.add(nb)
        if not new:
            converged = True
            break
        discovered = True
        for n in new:
            hops[n] = i
        frontier = new
    if not converged:
        raise RuntimeError(
            f"bfs_hops did not converge within max_iter={max_iter} rounds;"
            " raise max_iter (rounds are bounded by the seed set's graph"
            " eccentricity)"
        )
    schema = (
        dist0.unionByName(
            dist0.limit(0).select(
                F.col("node").cast(utype).alias("node"), F.col("hops")
            )
        ).schema
        if discovered
        else dist0.schema
    )
    return local_df(dist0.sparkSession, sorted(hops.items()), schema)


def sssp_weighted(
    edges: DataFrame,
    sources: DataFrame,
    max_iter: int = 50,
) -> DataFrame:
    """Multi-source single-source-shortest-path over the DIRECTED
    integer-weighted graph: ``(node, dist)`` = each reachable node's
    minimum total edge cost from ANY source — the weighted complement of
    :func:`bfs_hops` (hop counts answer "how far"; this answers "how
    cheap": strongest-corridor proximity on a trade/link graph, crawl
    distance under per-link quality costs). Unreachable nodes are
    absent; sources carry an explicit 0. Direction is honored as given
    (callers symmetrize for undirected semantics); duplicate (src, dst)
    rows keep their MINIMUM cost (the only aggregation consistent with
    shortest-path semantics); self-loops and NULL endpoints drop (a
    positive-cost self-loop can never lie on a shortest path); weights
    must be POSITIVE integers (zero/negative raise — Bellman-Ford-with-
    frontier termination and the min-plus fixpoint both depend on it).

    Deterministic: min-plus over BIGINTs — no ties to break (equal-cost
    paths agree on the cost), partition-order-independent, hash-gate
    safe.

    Scale shape: delta-less frontier Bellman-Ford — each round relaxes
    only edges OUT OF nodes whose distance improved last round (one hash
    join + map-side-combinable min against the checkpointed edge list,
    one anti-join-flavored improvement filter), so round cost tracks the
    improving wavefront, not the graph; rounds are bounded by the
    longest shortest-path EDGE COUNT (small-world graphs: single
    digits); convergence is one ``isEmpty`` probe on the already-
    checkpointed improvement frame; superseded checkpoints are released
    (:func:`free_local_checkpoint`). ``max_iter`` is the loud backstop.
    """
    if len(edges.columns) < 3:
        raise ValueError(
            "edges needs (src, dst, weight) columns — for unit costs pass"
            " F.lit(1) as the weight"
        )
    # canonical MIN aggregate per directed pair, self-loops and NULL
    # endpoints dropped; the weight guard and the frontier Bellman-Ford
    # run in Python when the aggregate and the source set fit
    ew = weighted_edges(edges, "min")
    src_proj = sources.select(
        F.col(sources.columns[0]).alias("node")
    ).filter(F.col("node").isNotNull())
    dist0 = src_proj.distinct().select(
        "node", F.lit(0).cast("long").alias("dist")
    )
    weight_guard(ew, ew.rows)
    srows = (
        distinct_probe_rows(src_proj)
        if ew.rows is not None
        else None
    )
    if srows is not None:
        ew.free()
        return _sssp_driver(ew.rows, srows, ew.plan, dist0, max_iter)
    e = ew.frame
    dist = dist0.localCheckpoint(eager=True)
    frontier = dist
    for _ in range(max_iter):
        cand = (
            e.join(
                frontier.select(F.col("node").alias("src"), "dist"), "src"
            )
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("d"))
            .groupBy("node")
            .agg(F.min("d").alias("d"))
        )
        improved = (
            cand.join(dist, "node", "left")
            .filter(F.col("dist").isNull() | (F.col("d") < F.col("dist")))
            .select("node", F.col("d").alias("dist"))
            .localCheckpoint(eager=True)
        )
        if improved.isEmpty():
            return dist
        old_dist, old_frontier = dist, frontier
        dist = (
            old_dist.join(improved.select("node"), "node", "left_anti")
            .unionByName(improved)
            .localCheckpoint(eager=True)
        )
        frontier = improved
        free_local_checkpoint(old_dist)
        if old_frontier is not old_dist:
            free_local_checkpoint(old_frontier)
    raise RuntimeError(
        f"sssp_weighted did not converge within max_iter={max_iter} rounds;"
        " raise max_iter (rounds are bounded by the longest shortest-path"
        " edge count)"
    )


def _sssp_driver(
    erows: list, srows: list, e: DataFrame, dist0: DataFrame,
    max_iter: int,
) -> DataFrame:
    """Driver fast path: the same frontier Bellman-Ford over the probed
    (min-aggregated) edge rows — min-plus over Python ints, identical
    distances (no ties exist), same round/raise structure as the
    distributed loop. Result schema mirrors the distributed union's
    coercion (see _bfs_driver)."""
    adj: dict = {}
    for r in erows:
        adj.setdefault(r.src, []).append((r.dst, r.w))
    dist = {r.node: 0 for r in srows}
    frontier = set(dist)
    discovered = converged = False
    for _ in range(max_iter):
        cand: dict = {}
        for n in frontier:
            dn = dist[n]
            for m, w in adj.get(n, ()):
                nd = dn + w
                if m not in cand or nd < cand[m]:
                    cand[m] = nd
        improved = {
            m: d for m, d in cand.items() if m not in dist or d < dist[m]
        }
        if not improved:
            converged = True
            break
        discovered = True
        dist.update(improved)
        frontier = set(improved)
    if not converged:
        raise RuntimeError(
            f"sssp_weighted did not converge within max_iter={max_iter}"
            " rounds; raise max_iter (rounds are bounded by the longest"
            " shortest-path edge count)"
        )
    schema = (
        dist0.unionByName(
            e.select(
                F.col("dst").alias("node"),
                F.lit(0).cast("long").alias("dist"),
            ).limit(0)
        ).schema
        if discovered
        else dist0.schema
    )
    return local_df(e.sparkSession, sorted(dist.items()), schema)


def k_core(
    edges: DataFrame, k: int, max_iter: int = 100
) -> DataFrame:
    """Nodes of the graph's k-core: ``(node, degree)`` after repeatedly
    deleting every node of degree < ``k`` (degree recomputed each round)
    — the density filter crawl curation uses to isolate tightly
    interlinked clusters (a link farm survives high-k cores; organic
    long-tail sites peel out immediately) and the standard preprocessing
    cut before community detection. Returned degrees are WITHIN-core
    degrees (≥ k by definition).

    Semantics: simple undirected graph (direction / duplicate edges /
    self-loops / NULL endpoints ignored, the triangle_counts contract);
    k ≤ 1 returns every non-isolated node with its full degree (isolated
    nodes never appear — callers left-join their node dimension).

    Scale shape: each peel round is one map-side-combinable degree
    aggregate + two semi-joins re-filtering the CHECKPOINTED edge set —
    never a collect; rounds converge in at most the peel depth of the
    graph (bounded by the degeneracy ordering length, typically a few
    dozen on web graphs) and the fixpoint check is ONE aggregate job over
    the checkpointed degree frame (``count`` + ``count_if(degree >= k)``
    in the same pass — two separate ``count()`` actions would double the
    per-round job-scheduling latency on deep peels). Superseded rounds'
    checkpoints are released as soon as the next round materializes
    (:func:`free_local_checkpoint`), so retained storage is O(1) rounds,
    not O(peel depth). Deterministic: the surviving set is unique (the
    k-core is closed under order of deletions — a classic invariant — so
    no tie-breaking is even needed). ``max_iter`` is a loud configuration
    backstop, not a silent truncation: non-convergence raises.
    """
    # below the bound the peel loop runs in Python over the probe rows
    # (the k-core is unique under any deletion order, and the round
    # structure — including the max_iter raise — mirrors exactly)
    ew = _und_edges(edges)
    if ew.rows is not None:
        ew.free()
        edges_py = [(r.u, r.v) for r in ew.rows]
        for _ in range(max_iter):
            degm: dict = {}
            for u, v in edges_py:
                degm[u] = degm.get(u, 0) + 1
                degm[v] = degm.get(v, 0) + 1
            surv = {n for n, d in degm.items() if d >= k}
            if len(surv) == len(degm):
                return local_df(
                    edges.sparkSession,
                    sorted((n, degm[n]) for n in surv),
                    _node_schema(ew, "degree long"),
                )
            edges_py = [
                (u, v) for u, v in edges_py if u in surv and v in surv
            ]
        raise RuntimeError(
            f"k_core did not converge within max_iter={max_iter} peel"
            " rounds; raise max_iter (rounds are bounded by the graph's"
            " peel depth)"
        )
    # the canonical checkpoint is released with the first superseded round
    und, prev_und, prev_deg = ew.frame.select("u", "v"), ew.frame, None
    for _ in range(max_iter):
        deg = (
            und.select(F.col("u").alias("node"))
            .unionByName(und.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("long").alias("degree"))
            .localCheckpoint(eager=True)
        )
        # the previous round's degree frame is superseded the moment this
        # one materializes (nothing references it: survivors/und of the
        # NEW round read only the new deg and the current und)
        if prev_deg is not None:
            free_local_checkpoint(prev_deg)
        prev_deg = deg
        survivors = deg.filter(F.col("degree") >= k)
        n_all, n_surv = deg.agg(
            F.count(F.lit(1)), F.count_if(F.col("degree") >= k)
        ).first()
        if n_surv == n_all:
            # the returned frame reads THIS round's deg checkpoint — it
            # (and the current edge set) stays persisted; only superseded
            # rounds were released
            return survivors.select("node", "degree")
        new_und = (
            und.join(
                survivors.select(F.col("node").alias("u")), "u", "left_semi"
            )
            .join(
                survivors.select(F.col("node").alias("v")), "v", "left_semi"
            )
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        # likewise: the shrunken edge set is materialized, its parent
        # round's edges are dead
        free_local_checkpoint(prev_und)
        prev_und = new_und
        und = new_und
    raise RuntimeError(
        f"k_core did not converge within max_iter={max_iter} peel rounds;"
        " raise max_iter (rounds are bounded by the graph's peel depth)"
    )


def label_propagation(
    edges: DataFrame,
    nodes: DataFrame,
    n_iter: int = 4,
    node_type: str = "long",
) -> DataFrame:
    """Community detection by synchronous weighted label propagation
    (Raghavan et al. 2007, determinized): ``(node, community)`` after
    EXACTLY ``n_iter`` rounds over the UNDIRECTED weighted graph — the
    classic "who trades/links inside a bloc" clustering that k-core
    (density cut) and connected components (reachability) don't answer.

    Update rule (everything integer):
        label0(v)   = v                      (node ids must be integral)
        score(v, l) = Σ_{u ∈ N(v), label(u)=l} w(v, u)
        label(v)    = argmax_l score(v, l), ties to the SMALLEST label;
                      a node with no in-universe neighbors keeps its label
    Edges canonicalize to the simple undirected weighted graph first:
    (least, greatest) endpoint ordering with BOTH directions' (and
    duplicates') weights SUMMED, self-loops / NULL endpoints dropped,
    out-of-universe endpoints dropped (the pagerank_fixedpoint subgraph
    contract).

    Deterministic BY CONSTRUCTION, not by convergence: synchronous
    updates + the smallest-label tie-break make every round a pure
    function of the previous labeling, and the loop runs EXACTLY
    ``n_iter`` rounds with NO early exit — synchronous LPA can 2-cycle
    on bipartite-ish structure (the textbook oscillation), so a
    stability early-exit would make the answer depend on which side of
    the cycle a round lands on and break parity with the unrolled-CTE
    oracle twin. Fixed rounds are bit-portable regardless of
    convergence; callers wanting a fixpoint raise ``n_iter`` and accept
    the oscillation caveat (DETERMINISM.md rule 5: remove the
    instability, don't pin it).

    **Adaptive physical strategy** (the pagerank_fixedpoint discipline):
    below ``DRIVER_ROWS`` the loop runs on the collected aggregate
    with Python integers — BIT-IDENTICAL to the distributed loop
    (property-pinned); above it, each round is ONE hash join of the
    symmetric edge list against the previous labeling + a map-side-
    combinable (node, label) weight sum + a deterministic struct-max
    argmax — two exchanges per round on the label-mass aggregate, the
    checkpointed edge list never reshuffles; superseded label
    checkpoints are released (:func:`free_local_checkpoint`).
    """
    if len(edges.columns) < 3:
        raise ValueError(
            "edges needs (src, dst, weight) columns — for an unweighted"
            " graph pass F.lit(1) as the weight"
        )
    if n_iter < 0:
        raise ValueError(f"n_iter must be >= 0 (got {n_iter})")
    nd_proj = nodes.select(
        F.col(nodes.columns[0]).cast(node_type).alias("node")
    ).filter(F.col("node").isNotNull())
    nd_plan = nd_proj.distinct()
    nrows = distinct_probe_rows(nd_proj)
    if nrows == []:
        return nd_plan.select(
            "node", F.col("node").cast("long").alias("community")
        )
    # the SQL spelling restricts both endpoints to the node set (the
    # subgraph contract); the node checkpoint it joins is built only off
    # the fully-local path — it is also the distributed loop's node set
    ew = weighted_edges(
        edges,
        "und",
        node_type,
        nodes=lambda: nd_plan.localCheckpoint(eager=True),
        probe=nrows is not None,
    )
    urows = None
    if ew.rows is not None:
        ns = {r.node for r in nrows}
        urows = [r for r in ew.rows if r.u in ns and r.v in ns]
    weight_guard(ew, urows)
    if urows is not None:
        return _lpa_driver(urows, nrows, nd_plan, n_iter)
    und = ew.frame
    node_df = ew.nodes
    n = node_df.count()
    if n == 0:
        return node_df.select(
            "node", F.col("node").cast("long").alias("community")
        )
    # both orientations of the canonical undirected edge — each round
    # reads it once, so checkpoint the symmetric spelling, not und
    es = (
        und.select(F.col("u").alias("node"), F.col("v").alias("nbr"), "w")
        .unionByName(
            und.select(F.col("v").alias("node"), F.col("u").alias("nbr"), "w")
        )
        .localCheckpoint(eager=True)
    )
    lab = node_df.select(
        "node", F.col("node").cast("long").alias("label")
    ).localCheckpoint(eager=True)
    for _ in range(n_iter):
        # argmax by (weight mass, then SMALLEST label) as ONE struct-max:
        # max(struct(s, -l)) picks max s then max(-l) = min l — integer,
        # partition-order-independent, hash-gate safe
        best = (
            es.join(
                lab.select(F.col("node").alias("nbr"),
                           F.col("label").alias("l")),
                "nbr",
            )
            .groupBy("node", "l")
            .agg(F.sum("w").alias("s"))
            .groupBy("node")
            .agg(
                F.max(
                    F.struct(F.col("s"), (-F.col("l")).alias("negl"))
                ).alias("b")
            )
            .select("node", (-F.col("b.negl")).alias("nl"))
        )
        old = lab
        lab = (
            old.join(best, "node", "left")
            .select(
                "node", F.coalesce(F.col("nl"), F.col("label")).alias("label")
            )
            .localCheckpoint(eager=True)
        )
        free_local_checkpoint(old)
    return lab.select("node", F.col("label").alias("community"))


def _lpa_driver(
    urows: list, nrows: list, node_df: DataFrame, n_iter: int
) -> DataFrame:
    """Driver fast path: the same update rule over the collected
    aggregate — bit-identical to the distributed loop (all integer; the
    property suite compares both against an independent replica)."""
    spark = node_df.sparkSession
    nodes = [r.node for r in nrows]
    eu = [(r.u, r.v, r.w) for r in urows]
    lab = {v: int(v) for v in nodes}
    for _ in range(n_iter):
        scores: dict = {v: {} for v in nodes}
        for u, v, w in eu:
            scores[u][lab[v]] = scores[u].get(lab[v], 0) + w
            scores[v][lab[u]] = scores[v].get(lab[u], 0) + w
        lab = {
            v: (
                max(sc.items(), key=lambda kv: (kv[1], -kv[0]))[0]
                if sc
                else lab[v]
            )
            for v, sc in scores.items()
        }
    out_type = dict(node_df.dtypes)["node"]
    return local_df(
        spark,
        [(v, lab[v]) for v in nodes],
        f"node {out_type}, community long",
    )


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    scale: int = 10**6,
    node_type: str = "long",
) -> DataFrame:
    """Newman modularity of a community partition over the UNDIRECTED
    weighted graph, in FIXED-POINT integers: one row per community
    ``(community, w_in, d_tot, contrib_fp)`` plus the partition total as
    the ``contrib_fp`` sum —
        Q = Σ_c [ w_in(c)/m  −  (d_tot(c)/(2m))² ]
    with m = total undirected edge weight, w_in(c) = intra-community
    edge weight, d_tot(c) = Σ weighted degrees. Spelled exactly as
        contrib_fp = (2·w_in·2m − d_tot²) · scale  div  (2m)²
    — pure BIGINT products and ONE floor divide per community (the
    pagerank_fixedpoint discipline: remove the rational, don't round
    it twice), so the score is bit-portable and an unrolled-CTE oracle
    can pin it. The quality metric for :func:`label_propagation`'s
    output (a partition with Q ≈ 0 is no better than random edge
    placement; density alone — k-core — can't say that).

    Input contract matches label_propagation: edges canonicalize to the
    simple undirected weighted graph (least/greatest, BOTH directions'
    and duplicates' weights SUMMED, self-loops/NULLs dropped); labels =
    ``(node, community)``, one row per node (duplicate nodes raise —
    a node in two communities makes Q undefined); edges whose endpoint
    has no label row DROP (the subgraph contract). Overflow guarded
    loudly: needs (2m)²·scale and 2·max(w_in)·2m·scale below 2^63.

    Scale shape: two map-side-combinable aggregations (per-community
    intra-edge weight via a 2-key label join; per-community degree via
    a 1-key join) + a 1-row total broadcast — no iteration, nothing
    corpus-sized shuffles twice.
    """
    if len(edges.columns) < 3:
        raise ValueError(
            "edges needs (src, dst, weight) columns — for an unweighted"
            " graph pass F.lit(1) as the weight"
        )
    lab = labels.select(
        F.col(labels.columns[0]).cast(node_type).alias("node"),
        F.col(labels.columns[1]).cast("long").alias("community"),
    ).filter(F.col("node").isNotNull())
    # one-job dispatch probe (the pagerank_fixedpoint discipline): when
    # the label table fits, the duplicate-node guard runs in Python over
    # the probe rows (same check, same message) and — if the joined edge
    # aggregate also fits — the whole Q decomposition does too
    lrows = probe_rows(lab)
    if lrows is not None:
        seen: dict = {}
        for r in lrows:
            seen[r.node] = seen.get(r.node, 0) + 1
        dups = [n for n in sorted(seen) if seen[n] > 1][:5]
        if dups:
            raise ValueError(
                "labels must map each node to exactly one community"
                f" (duplicates: {dups})"
            )
    else:
        dup = lab.groupBy("node").count().filter(F.col("count") > 1)
        if not dup.isEmpty():
            raise ValueError(
                "labels must map each node to exactly one community"
                f" (duplicates: {[r.node for r in dup.limit(5).collect()]})"
            )
    # the SQL spelling joins each endpoint's community (cu / cv); edges
    # whose endpoint has no label row drop (the subgraph contract)
    ew = weighted_edges(
        edges,
        "und",
        node_type,
        nodes=lambda: lab.select("node", F.col("community").alias("c")),
        probe=lrows is not None,
    )
    urows = labm = None
    if ew.rows is not None:
        labm = {r.node: r.community for r in lrows}
        urows = [r for r in ew.rows if r.u in labm and r.v in labm]
    m = weight_guard(ew, urows).tw or 0
    if (2 * m) ** 2 * scale >= 2**63:
        raise ValueError(
            f"fixed-point scale overflows int64: need (2m)^2*scale"
            f" ((2*{m})^2*{scale}) below 2^63 — lower scale or"
            " pre-normalize weights"
        )
    if urows is not None:
        return _modularity_driver(urows, labm, lab, scale, m)
    if m == 0:
        return lab.select("community").distinct().select(
            "community",
            F.lit(0).cast("long").alias("w_in"),
            F.lit(0).cast("long").alias("d_tot"),
            F.lit(0).cast("long").alias("contrib_fp"),
        )
    und = ew.frame
    w_in = (
        und.filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("community"))
        .agg(F.sum("w").alias("w_in"))
    )
    deg = (
        und.select(F.col("cu").alias("community"), "w")
        .unionByName(und.select(F.col("cv").alias("community"), "w"))
        .groupBy("community")
        .agg(F.sum("w").alias("d_tot"))
    )
    two_m = 2 * m
    # contrib can be NEGATIVE (a community sparser than random), so the
    # division operator's negative semantics are load-bearing: Spark's
    # DIV and DuckDB's // BOTH truncate toward zero (-7/2 → -3,
    # verified), so the fixed-point quotient is cross-engine exact.
    # Plain Column `/` would be IEEE double division — never use it in
    # a hash-gated integer path.
    contrib = F.expr(
        f"CAST(((2L * w_in * {two_m}L - d_tot * d_tot) * {scale}L)"
        f" DIV {two_m * two_m}L AS BIGINT)"
    )
    return (
        lab.select("community")
        .distinct()
        .join(w_in, "community", "left")
        .join(deg, "community", "left")
        .select(
            "community",
            F.coalesce(F.col("w_in"), F.lit(0)).cast("long").alias("w_in"),
            F.coalesce(F.col("d_tot"), F.lit(0)).cast("long").alias("d_tot"),
        )
        .select("community", "w_in", "d_tot", contrib.alias("contrib_fp"))
    )


def _modularity_driver(
    urows: list, labm: dict, lab: DataFrame, scale: int, m: int
) -> DataFrame:
    """Driver fast path: the same Q decomposition over the in-universe
    canonical edge rows, with ``labm`` the node → community map and
    ``m`` the guarded total weight — pure integer arithmetic,
    bit-identical to the distributed aggregations (the test suite pins
    both against each other). SQL-semantics notes carried over exactly:
    a NULL community label never equi-joins, so its row reports
    (community, 0, 0, 0); the fixed-point quotient truncates toward zero
    (Spark DIV / DuckDB //), NOT Python's flooring ``//`` — spelled with
    the sign split below."""
    spark = lab.sparkSession
    comms = sorted(set(labm.values()), key=lambda c: (c is None, c))
    out_schema = "community long, w_in long, d_tot long, contrib_fp long"
    if m == 0:
        return local_df(spark, [(c, 0, 0, 0) for c in comms], out_schema)
    w_in: dict = {}
    d_tot: dict = {}
    for r in urows:
        cu, cv = labm[r.u], labm[r.v]
        # cu == cv under SQL semantics: NULL labels compare unknown —
        # never intra; NULL groupBy keys aggregate but never re-join,
        # so skipping them entirely reproduces the coalesce(_, 0) rows
        if cu is not None:
            if cu == cv:
                w_in[cu] = w_in.get(cu, 0) + r.w
            d_tot[cu] = d_tot.get(cu, 0) + r.w
        if cv is not None:
            d_tot[cv] = d_tot.get(cv, 0) + r.w
    two_m = 2 * m
    den = two_m * two_m
    rows = []
    for c in comms:
        wi = w_in.get(c, 0) if c is not None else 0
        dt = d_tot.get(c, 0) if c is not None else 0
        num = (2 * wi * two_m - dt * dt) * scale
        q = num // den if num >= 0 else -((-num) // den)
        rows.append((c, wi, dt, q))
    return local_df(spark, rows, out_schema)


# -- deterministic random walks (DeepWalk-style corpus generation) ----------

#: walk-step hash constants: idx = ((h1(cur, step, wid))² + E) mod P mod deg
#: with h1 = ((cur mod P)·A + step·B + wid·C + D) mod P. Everything stays
#: below 2^63 ((P−1)·A ≈ 1.1e18; h1² < 1e18), the quadratic pass breaks the
#: linearity that would correlate step choice with the sorted neighbor rank
#: (a purely linear-mod-P hash walks "monotone" paths on contiguous id
#: ranges), and the arithmetic is plain BIGINT ·/+/% — expressible
#: identically in Spark SQL and DuckDB, which is what makes the walks
#: oracle-checkable cross-engine.
WALK_P = 1_000_000_007
WALK_A = 1_103_515_245
WALK_B = 12_345
WALK_C = 789_221
WALK_D = 41
WALK_E = 2_531_011


def _walk_h1_sql(cur: str, step: int, wid: str) -> str:
    """The linear pass of the walk-step hash, as SQL text shared verbatim
    by the Spark loop and the DuckDB oracle twin (one spelling, two
    engines — the catalog's cross-dialect discipline)."""
    return (
        f"((({cur}) % {WALK_P}) * {WALK_A} + {step} * {WALK_B}"
        f" + ({wid}) * {WALK_C} + {WALK_D}) % {WALK_P}"
    )


def random_walks(
    edges: DataFrame,
    walk_len: int = 4,
    num_walks: int = 2,
    node_type: str = "long",
) -> DataFrame:
    """Deterministic hash-seeded random walks over the simple undirected
    graph — the DeepWalk/node2vec corpus-generation primitive (Perozzi et
    al. 2014, public), determinized so a hash gate can pin every step:
    ``(start, wid, step, node)`` for ``num_walks`` walks per node and
    steps 0..walk_len, where step t moves from ``cur`` to its
    ``idx``-th smallest neighbor with
        idx = ((h1² + E) mod P) mod deg(cur),
        h1  = ((cur mod P)·A + t·B + wid·C + D) mod P
    — a pure function of (cur, t, wid), so walks are reproducible across
    engines, partitionings and retries (no RNG state; the "randomness"
    is the quadratic-mixed hash, the same determinization the catalog's
    sampling operators use). Every node of the graph starts
    ``num_walks`` walks; isolated nodes (degree 0 after simplification)
    have no adjacency row and start none.

    **Adaptive physical strategy** (the pagerank_fixedpoint discipline):
    at or below ``DRIVER_ROWS`` undirected edges the walk runs on
    the collected adjacency with Python ints — bit-identical to the
    distributed loop (property-pinned). Above it, the sorted-neighbor
    rank table ``(node, nbr, rank)`` and the degree table are built ONCE
    (one shuffle each on node) and eagerly checkpointed; each step is
    then TWO fixed-width hash joins (cur→deg for the index, (cur,
    idx)→rank for the move) — no adjacency arrays ever shuffle, so a
    skewed hub costs its bucket size, not a replicated array. Walk
    frames are walker-count-sized (nodes × num_walks), constant across
    steps; every step frame is part of the result, so all walk_len+1
    step checkpoints are retained until the caller is done with the
    output (bounded: (walk_len+1) × walkers rows of 3 fixed-width cols).
    """
    if walk_len < 0:
        raise ValueError(f"walk_len must be >= 0 (got {walk_len})")
    if num_walks < 1:
        raise ValueError(f"num_walks must be >= 1 (got {num_walks})")
    spark = edges.sparkSession
    out_schema = f"start {node_type}, wid int, step int, node {node_type}"
    # the probe rows ARE the collected adjacency on the driver path
    ew = _und_edges(edges, node_type)
    if ew.rows is not None:
        ew.free()
        return local_df(
            spark, _walks_driver(ew.rows, walk_len, num_walks), out_schema
        )
    und = ew.frame
    adj = und.selectExpr("u AS node", "v AS nbr").unionByName(
        und.selectExpr("v AS node", "u AS nbr")
    )
    from pyspark.sql import Window

    rk = adj.withColumn(
        "rank", F.row_number().over(Window.partitionBy("node").orderBy("nbr"))
    ).localCheckpoint(eager=True)
    dg = rk.groupBy("node").agg(F.count(F.lit(1)).alias("deg")).localCheckpoint(
        eager=True
    )
    wid_arr = F.array([F.lit(i).cast("int") for i in range(num_walks)])
    w = dg.select(
        F.col("node").alias("start"),
        F.explode(wid_arr).alias("wid"),
        F.col("node").alias("cur"),
    ).localCheckpoint(eager=True)
    outs = [
        w.select(
            "start", "wid", F.lit(0).cast("int").alias("step"),
            F.col("cur").alias("node"),
        )
    ]
    # rename the join sides once: w/dg/rk all descend from adj, and a
    # straight three-way self-join leaves `node` ambiguous to the analyzer
    degj = dg.selectExpr("node AS _dnode", "deg")
    rkj = rk.selectExpr("node AS _rnode", "nbr AS _rnbr", "rank AS _rrank")
    for t in range(1, walk_len + 1):
        # wid is INT; promote before the * WALK_C multiply so a large
        # num_walks can't int32-overflow (ANSI mode would throw, not wrap)
        h1 = _walk_h1_sql("cur", t, "CAST(wid AS BIGINT)")
        stepped = (
            w.join(degj, F.col("cur") == F.col("_dnode"))
            .withColumn("_h1", F.expr(h1))
            .withColumn(
                "_rank",
                F.expr(f"1 + ((_h1 * _h1 + {WALK_E}) % {WALK_P}) % deg"),
            )
            .join(
                rkj,
                (F.col("cur") == F.col("_rnode"))
                & (F.col("_rank") == F.col("_rrank")),
            )
            .select("start", "wid", F.col("_rnbr").alias("cur"))
        )
        # Every step frame IS part of the output (outs[t] projects it at
        # the final union), so — unlike the pagerank/LPA loops where only
        # the latest state survives — superseded checkpoints must NOT be
        # freed here. Retention is bounded: walk_len+1 frames of exactly
        # nodes×num_walks rows × 3 fixed-width columns each.
        w = stepped.localCheckpoint(eager=True)
        outs.append(
            w.select(
                "start", "wid", F.lit(t).cast("int").alias("step"),
                F.col("cur").alias("node"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _walks_driver(und_rows, walk_len: int, num_walks: int):
    """Driver fast path: the same walk with Python ints over the collected
    simple undirected edge list — bit-identical to the distributed loop
    (property-pinned against it and an independent replica)."""
    adj: dict = {}
    for r in und_rows:
        adj.setdefault(r.u, set()).add(r.v)
        adj.setdefault(r.v, set()).add(r.u)
    nbrs = {n: sorted(s) for n, s in adj.items()}
    rows = []
    for start in sorted(nbrs):
        for wid in range(num_walks):
            cur = start
            rows.append((start, wid, 0, cur))
            for t in range(1, walk_len + 1):
                h1 = (
                    (cur % WALK_P) * WALK_A + t * WALK_B
                    + wid * WALK_C + WALK_D
                ) % WALK_P
                idx = ((h1 * h1 + WALK_E) % WALK_P) % len(nbrs[cur])
                cur = nbrs[cur][idx]
                rows.append((start, wid, t, cur))
    return rows


def walk_skipgrams(walks: DataFrame, window: int = 2) -> DataFrame:
    """Skip-gram (center, context) pair counts from walk trajectories —
    the word2vec corpus step after DeepWalk's walk generation (Mikolov et
    al. 2013, public): for every walk and every ordered position pair
    within ``window`` steps, emit (center node, context node), then count
    — ``(center, context, cnt)`` is exactly the co-occurrence table a
    downstream embedding trainer consumes. Symmetric by construction
    (i→j and j→i both emit), diagonal excluded.

    ``walks`` must carry (start, wid, step, node) — the random_walks
    contract; (start, wid) identifies a trajectory and step orders it.

    Scale shape: ONE exchange groups each trajectory's steps into a
    sorted array (trajectories are walk_len+1 rows — tiny, bounded, no
    skew possible: every key has identical cardinality by construction),
    the pair fan-out is a ROW-LOCAL nested array transform (≤ 2·window
    pairs per position, all inside whole-stage codegen — no self-join,
    so the walk table is shuffled once, not twice, and the join-side
    duplication of a step-range self-join never materializes), and the
    count is a map-side-combinable aggregation on the pair keys. Output
    is ≤ nodes² rows but typically ≪ (the co-occurrence support)."""
    if window < 1:
        raise ValueError(f"window must be >= 1 (got {window})")
    for c in ("start", "wid", "step", "node"):
        if c not in walks.columns:
            raise ValueError(f"walks is missing column '{c}'")
    seq = walks.groupBy("start", "wid").agg(
        F.array_sort(F.collect_list(F.struct("step", "node"))).alias("seq")
    )
    pairs = seq.select(
        F.explode(
            F.expr(
                "flatten(transform(seq, c ->"
                " transform("
                f"  filter(seq, x -> x.step <> c.step"
                f"             AND abs(x.step - c.step) <= {int(window)}),"
                "  x -> struct(c.node AS center, x.node AS context))))"
            )
        ).alias("p")
    )
    return pairs.groupBy(
        F.col("p.center").alias("center"), F.col("p.context").alias("context")
    ).agg(F.count(F.lit(1)).alias("cnt"))
