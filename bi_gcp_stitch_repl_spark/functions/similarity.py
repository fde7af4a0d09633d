"""Embedding similarity search.

Vectors are plain ``array<float>`` columns (the engine's multimodal column
convention); all math is JVM-side ``zip_with``/``aggregate`` folds — no
Python in the scoring loop, no UDFs.

Two tiers:
- ``brute_force_topk`` — exact linear scan; the correctness baseline and
  the right answer below ~10⁷ vectors per query batch.
- ``lsh_bucket_topk`` — sign-bit LSH over fixed hyperplanes; probes the
  query's bucket (plus optional Hamming-1 neighbors) so per-query cost is
  corpus_size / 2^n_planes. The partitioning is the point at 100 TB: the
  bucket id is a shuffle key, so each query touches a bounded slice.
  An IVF variant would swap the bucket fn for nearest-centroid; the
  plumbing (bucket → co-partitioned join → per-bucket top-k window) stays
  identical.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
    " cast(0.0 as double), (acc, v) -> acc + v)"
)
NORM = (
    "sqrt(aggregate(transform({a}, x -> cast(x as double) * cast(x as double)),"
    " cast(0.0 as double), (acc, v) -> acc + v))"
)


def _unrolled_lfold(term: str, dim: int) -> str:
    """Literal left-fold ``(((0.0d + t1) + t2) + ...)`` of ``term``
    instantiated at i = 1..dim — the SAME accumulation order (and thus
    bit-identical doubles) as ``aggregate(..., 0.0d, (acc, v) -> acc + v)``
    over a dim-element array, but as a flat codegen-able expression tree
    instead of an interpreted higher-order fold (the folds evaluate
    outside whole-stage codegen with per-element lambda dispatch;
    measured 2.5x slower on the semdedup pair stage at sf0.1)."""
    s = "cast(0.0 as double)"
    for i in range(1, dim + 1):
        s = f"({s} + {term.format(i=i)})"
    return s


def dot_sql(a: str, b: str, dim: int | None = None) -> str:
    """Sequential-fold dot product; with ``dim`` given, a guarded
    unrolled spelling: rows whose arrays are exactly ``dim`` long take
    the flat codegen expression, every other row (including NULL arrays)
    falls back to the interpreted fold — so the value is bit-identical
    to the fold for EVERY input (``try_element_at`` past the end yields
    NULL exactly like ``zip_with``'s padding, but a longer-than-dim
    array would sum only dim terms, hence the size guard)."""
    fold = DOT.format(a=a, b=b)
    if dim is None:
        return fold
    unr = _unrolled_lfold(
        f"(cast(try_element_at({a}, {{i}}) as double)"
        f" * cast(try_element_at({b}, {{i}}) as double))",
        dim,
    )
    return (
        f"(CASE WHEN size({a}) = {dim} AND size({b}) = {dim}"
        f" THEN {unr} ELSE {fold} END)"
    )


def norm_sql(a: str, dim: int | None = None) -> str:
    """Sequential-fold L2 norm; ``dim`` enables the guarded unrolled
    spelling (see :func:`dot_sql` — identical doubles, codegen-able)."""
    fold = NORM.format(a=a)
    if dim is None:
        return fold
    unr = _unrolled_lfold(
        f"(cast(try_element_at({a}, {{i}}) as double)"
        f" * cast(try_element_at({a}, {{i}}) as double))",
        dim,
    )
    return f"(CASE WHEN size({a}) = {dim} THEN sqrt({unr}) ELSE {fold} END)"


def cosine_sql(a: str, b: str, dim: int | None = None) -> str:
    """:func:`cosine` as a SQL fragment — for use inside higher-order
    functions (``transform`` lambdas), where a Column cannot reach.
    ``dim`` switches dot/norms to the guarded unrolled spelling
    (bit-identical; see :func:`dot_sql`)."""
    return (
        f"{dot_sql(a, b, dim)}"
        f" / nullif(({norm_sql(a, dim)} * {norm_sql(b, dim)}), 0.0d)"
    )


def cosine(a: str, b: str, dim: int | None = None) -> Column:
    """Cosine similarity as the deterministic sequential fold. The norm
    product goes through nullif: a zero-norm vector (padding/dead row —
    plausible in any at-scale embedding table) yields NULL similarity
    instead of a DIVIDE_BY_ZERO job abort under ANSI (the Spark 4
    default); NULLs rank last under the descending top-k orderings every
    caller uses, which is exactly where a zero vector belongs. ``dim``
    (the table's declared vector dimension) switches to the guarded
    unrolled spelling — same doubles, whole-stage codegen instead of
    interpreted per-element lambdas."""
    return F.expr(cosine_sql(a, b, dim))


def brute_force_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine against one query vector (as a literal array —
    broadcast by construction)."""
    qexpr = "array(" + ", ".join(f"cast({float(v)} as float)" for v in query_vec) + ")"
    scored = corpus.withColumn("q", F.expr(qexpr)).withColumn(
        "cosine", cosine(vec_col, "q", dim)
    )
    return (
        scored.drop("q")
        .orderBy(F.col("cosine").desc(), id_col)
        .limit(k)
    )


def random_hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random Gaussian hyperplanes (seeded — the model
    is reproducible across runs/engines without storing anything)."""
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def hyperplane_bucket_expr(
    vec_col: str, planes: list[list[float]]
) -> Column:
    """SimHash-style bucket id: bit j = sign of ⟨vec, plane_j⟩. Random
    hyperplanes distribute buckets evenly regardless of the data's
    coordinate alignment (axis-aligned `bucket_expr` is the zero-cost
    variant; this one costs n_planes dot products per row, still JVM-side).
    P(bit match) = 1 - θ/π, so Hamming distance over buckets estimates
    angular distance."""
    bucket = None
    for j, plane in enumerate(planes):
        arr = "array(" + ", ".join(f"cast({v} as double)" for v in plane) + ")"
        dot = DOT.format(a=vec_col, b=arr)
        bit = F.when(F.expr(dot) > 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket


def bucket_expr(vec_col: str, n_planes: int = 8) -> Column:
    """Sign-bit LSH bucket id: bit i = sign of coordinate i (axis-aligned
    hyperplanes; deterministic, no stored model). For random hyperplanes,
    replace element_at with a dot against broadcast plane vectors."""
    bucket = None
    for i in range(n_planes):
        bit = F.when(
            F.try_element_at(F.col(vec_col), F.lit(i + 1)) > 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket


def _centroid_array(centroids: DataFrame, cell: str, cvec: str) -> DataFrame:
    """Collapse a ``(cell, centroid-vector)`` table to ONE row holding the
    cell-sorted struct array — the broadcastable form the fold-based
    assignments read. A bounded model table (n_cells × dim) as a 1-row
    array turns nearest-centroid selection into a row-local array fold,
    replacing the crossJoin + per-row window argmin whose row_number
    exchange shuffled and sorted corpus × n_cells rows (optimization
    guide §2.4: remove shuffles outright). The sort is for plan
    determinism only — min/top-n over the array are order-independent."""
    return centroids.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(cell), F.col(cvec)))
        ).alias("_cs")
    )


def _desc_sim_cmp(sim: str = "s", tie: str = "c") -> str:
    """``array_sort`` comparator ordering by (``sim`` DESC, ``tie`` ASC)
    with exact window-ordering parity: NULL sim sorts last (SQL DESC is
    NULLS LAST) and NaN sorts first (Spark orders NaN above every other
    double, and its ``>``/``<`` operators agree — verified), so a fold
    over this ordering is bit-identical to ``row_number() OVER (ORDER BY
    sim DESC, tie)``. The default struct ordering over a negated sim
    would diverge on exactly those two classes (-NaN is NaN → last, and
    NULL would flip to first)."""
    return (
        f"(l, r) -> CASE"
        f" WHEN l.{sim} IS NULL AND r.{sim} IS NULL THEN CASE"
        f"  WHEN l.{tie} < r.{tie} THEN -1"
        f"  WHEN l.{tie} > r.{tie} THEN 1 ELSE 0 END"
        f" WHEN l.{sim} IS NULL THEN 1"
        f" WHEN r.{sim} IS NULL THEN -1"
        f" WHEN l.{sim} > r.{sim} THEN -1"
        f" WHEN l.{sim} < r.{sim} THEN 1"
        f" WHEN l.{tie} < r.{tie} THEN -1"
        f" WHEN l.{tie} > r.{tie} THEN 1 ELSE 0 END"
    )


def _cell_centroids(
    corpus: DataFrame,
    cell: str,
    vec_col: str,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """The one centroid-table builder every IVF consumer shares: either
    normalize a supplied frozen-quantizer frame ((cell, center array) —
    the sidecar ``incremental_ann_ingest`` persists) or derive per-cell
    assigned-vector means (tiny: n_cells × dim — broadcast everywhere).
    Deriving from means is only valid while the index holds exactly the
    fitted rows; after post-fit batches, pass the frozen centers (the
    means drift half a Lloyd step per load — silent recall loss)."""
    if centroids is not None:
        return centroids.select(
            F.col(centroids.columns[0]).alias(cell),
            F.expr(
                f"transform({centroids.columns[1]}, x -> cast(x as float))"
            ).alias("cvec"),
        )
    return (
        corpus.select(cell, F.posexplode(vec_col).alias("i", "v"))
        .groupBy(cell, "i")
        .agg(F.avg("v").alias("m"))
        .groupBy(cell)
        .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).alias("pairs"))
        .select(
            cell,
            F.expr("transform(pairs, p -> cast(p.m as float))").alias("cvec"),
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    centroid_col: str | None = None,
    centroids: DataFrame | None = None,
    dim: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: vectors are assigned to coarse cells;
    a query scores only its ``n_probe`` nearest cells.

    ``centroid_col`` names an existing coarse assignment (e.g. a cluster
    label); when None, centroids are derived as per-``label`` mean vectors —
    in production this is a KMeans fit, but the search plumbing (centroid
    table broadcast → query-to-cell assignment → cell-equi join →
    per-query window) is identical and is what this implements. Cost per
    query: corpus/n_cells × n_probe instead of corpus.

    ``centroids`` (a ``(cell, centroid array)`` frame) supplies a FROZEN
    quantizer — pass the sidecar that ``incremental_ann_ingest``
    persists. This matters once the index has absorbed post-fit batches:
    stored rows were argmin-assigned against the frozen centers, and
    probing by re-derived assignment MEANS (which drift with every load)
    would rank cells by a different geometry than the one that placed
    the vectors — a silent recall hit at low n_probe.
    """
    cell = centroid_col or "label"
    centroids = _cell_centroids(corpus, cell, vec_col, centroids)
    # assign each query to its n_probe best cells by cosine to centroid:
    # a row-local sort+slice over the 1-row centroid array — no
    # per-query row_number exchange (the old window shuffled and sorted
    # queries × n_cells rows). Cell tiebreak: equal centroid similarity
    # (symmetric data, duplicate centroids) must not make the probed
    # cell SET run-dependent — _desc_sim_cmp pins (csim DESC, cell ASC)
    # with exact window parity on NULL/NaN.
    q = queries.select(query_id_col, F.col(vec_col).alias("qv"))
    probes = (
        q.crossJoin(F.broadcast(_centroid_array(centroids, cell, "cvec")))
        .select(
            query_id_col,
            "qv",
            F.explode(
                F.expr(
                    # fold spelling INSIDE the lambda on purpose: a
                    # transform body evaluates interpreted either way,
                    # and the unrolled tree measured 2x SLOWER there
                    # (0.55 -> 1.2 s / 16k evals) while the fold loop
                    # wins; dim-unrolling pays off only in codegen
                    # contexts (the scored projection below)
                    "slice(array_sort(transform(_cs, c -> struct("
                    + cosine_sql("qv", "c.cvec")
                    + f" AS s, c.{cell} AS c)), {_desc_sim_cmp()}),"
                    f" 1, {int(n_probe)})"
                )
            ).alias("_p"),
        )
        .select(query_id_col, "qv", F.col("_p.c").alias(cell))
    )
    scored = corpus.join(probes, cell).withColumn(
        "cosine", cosine(vec_col, "qv", dim)
    )
    # SALTED two-level per-query top-k: a bare window over query_id makes
    # ONE task sort each query's full probe set (n_probe/n_cells of the
    # corpus) — unsplittable by AQE. Local top-k per (query, 64-way salt
    # of the unique vector id) bounds the exact final window to ≤ 64·k
    # candidates per query; every true top-k row is necessarily in its
    # salt lane's top-k, so the result is exactly the single-window
    # answer.
    from ..ops.skew import salted_topk

    return salted_topk(
        scored,
        partition_by=[query_id_col],
        order_by=[F.col("cosine").desc(), F.col(id_col)],
        k=k,
        salt_on=id_col,
    ).select(query_id_col, id_col, "cosine", "rk")


def auto_n_cells(n_rows: int, floor: int = 4, cap: int = 1 << 18) -> int:
    """Cells-grow-with-corpus rule: ≈ sqrt(N), floored and capped.

    sqrt(N) balances the two per-query cost terms — centroid scan
    (∝ n_cells) and probed-cell scan (∝ n_probe · N / n_cells) — the
    standard IVF sizing (faiss guideline 4·sqrt(N)..16·sqrt(N) for
    billion-scale; plain sqrt keeps cells ≥ ~sqrt(N) rows here, which is
    what the small local fixtures need to stay non-degenerate). The cap
    bounds the driver-resident centroid table (256 k cells × dim floats)
    at a size that still broadcasts comfortably."""
    import math

    return max(floor, min(cap, int(round(math.sqrt(max(n_rows, 1))))))


def kmeans_ivf_index(
    corpus: DataFrame,
    n_cells: int | None = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
    max_iter: int = 8,
    return_centers: bool = False,
    init_mode: str = "k-means||",
) -> "DataFrame | tuple[DataFrame, list[list[float]]]":
    """Fit IVF coarse cells with KMeans (pyspark.ml, Lloyd's over the
    cluster-parallel corpus) and return the corpus with a ``cell_col``
    assignment — the production replacement for `ivf_topk`'s per-label
    centroid derivation. ``n_cells=None`` applies the
    cells-grow-with-corpus rule (``auto_n_cells`` ≈ sqrt(N)) so the
    index geometry scales with the table instead of being pinned at a
    fixture size (measured recall trend: PERF.md, "Round 6:
    cells-grow-with-corpus rule").

    The fit is a few passes over the data (distributed; the model itself is
    tiny — n_cells × dim floats on the driver); the assignment pass is one
    narrow projection. Downstream, `ivf_topk(..., centroid_col=cell_col)`
    rebuilds each cell's centroid as the assigned-vector mean, which at
    convergence IS the KMeans center — so the index never needs to persist
    the model, only the cell id column (one small int per row, the right
    artifact to store at 100 TB).

    ``return_centers=True`` additionally returns the model's final
    cluster centers as ``(df, [[float, ...], ...])`` (cell i = centers
    row i). A caller persisting a frozen quantizer (the incremental ANN
    ingest) MUST store these, not assignment means: ``model.transform``
    assigns by argmin against the FINAL centers, whereas per-cell
    assignment means sit one Lloyd half-step away — persisting means
    would leave the first batch's rows inconsistent with the stored
    assignment rule."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if n_cells is None:
        # cells-grow-with-corpus (see auto_n_cells): one count() — cheap
        # against a stored index table, and the count is the same scan
        # the KMeans fit is about to make anyway
        n_cells = auto_n_cells(corpus.count())
    feats = corpus.withColumn("_fv", array_to_vector(F.col(vec_col)))
    # max_iter=8, not pyspark.ml's default 20: a coarse quantizer needs
    # roughly-balanced cells, not converged centers — recall is set by
    # n_probe/n_cells, and 8 rounds halves the fit cost with measured
    # recall unchanged (±0.01) on the synthetic corpus
    # init_mode="random" is the coarse-quantizer option (the faiss
    # default shape: random seeds + a few Lloyd rounds): k-means|| init
    # is itself several corpus passes, which dominates the whole fit at
    # small/medium k and buys nothing when cells only need rough balance
    # — measured 0.6 s vs 2.6 s on the 2 k-row fixture with BETTER
    # balance (max/min cell 1.2 vs 2.3). Callers persisting a frozen
    # high-k quantizer can keep the default.
    model = KMeans(
        k=n_cells, seed=seed, featuresCol="_fv", predictionCol=cell_col,
        maxIter=max_iter, initMode=init_mode,
    ).fit(feats)
    assigned = model.transform(feats).drop("_fv")
    if return_centers:
        centers = [[float(x) for x in c] for c in model.clusterCenters()]
        return assigned, centers
    return assigned


#: mechanical bound on the exact decontamination kernel's bench side —
#: ~2^18 rows of a 1-4 KB embedding row is the edge of what a forced
#: broadcast (and the |bench|-per-corpus-row probe cost) tolerates; a
#: genuinely fixed eval set sits orders of magnitude below it
BENCH_BROADCAST_ROW_LIMIT = 262_144


def guard_bench_broadcast(
    bench: DataFrame, limit_rows: int | None = None
) -> int:
    """Mechanize the exact semantic-decontamination kernel's broadcast
    contract (r10 verdict #3): the kernel is ``corpus × |bench|`` dot
    products against a bench side that production holds FIXED-SIZE and
    broadcast — a corpus-scaled bench silently turns the pass quadratic.
    This counts the bench side and RAISES past ``limit_rows`` (default
    :data:`BENCH_BROADCAST_ROW_LIMIT`, read at call time so tests can
    lower it), naming the documented escalation:
    :func:`semantic_contamination_ivf` prunes candidates to IVF-probed
    cells first (precision 1.0, recall rises with n_probe) and the exact
    kernel then runs only on the pruned pairs. Raising (not silently
    routing) is deliberate — the IVF path's recall < 1.0 would change an
    oracled answer under a size threshold, and a result that quietly
    degrades at scale is worse than a loud contract. Returns the count
    so callers pay the ONE tiny aggregate job only once."""
    if limit_rows is None:
        limit_rows = BENCH_BROADCAST_ROW_LIMIT
    n = bench.count()
    if n > limit_rows:
        raise ValueError(
            f"bench side has {n} rows — above the exact kernel's broadcast"
            f" contract ({limit_rows}): this pass costs corpus x |bench|"
            " dot products against a broadcast bench (a fixed-size eval"
            " set in production). For a corpus-scaled bench, prune first"
            " with functions.similarity.semantic_contamination_ivf"
            " (IVF-probed cells, precision 1.0) and run the exact kernel"
            " on the pruned pairs only."
        )
    return n


def semantic_contamination_ivf(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bench_id_col: str = "vec_id",
    cell_col: str = "ivf_cell",
    centroids: DataFrame | None = None,
    dim: int | None = None,
) -> DataFrame:
    """IVF-pruned semantic contamination: corpus ids whose embedding
    reaches cosine ≥ ``threshold`` to ANY bench vector, scoring only the
    corpus cells each bench vector probes — the 100 TB path behind the
    catalog's exact ``x_semantic_decontaminate`` kernel.

    ``corpus`` must carry a coarse cell assignment (``cell_col`` from
    :func:`kmeans_ivf_index`). Each bench vector probes its ``n_probe``
    nearest cells; ``centroids`` supplies a frozen quantizer exactly as
    in :func:`ivf_topk` (REQUIRED once the index absorbed post-fit
    batches — see :func:`_cell_centroids`), else assigned-vector means
    are derived. Exact cosines run only on (bench × probed-cell) pairs,
    so cost is |bench| × corpus × n_probe/n_cells instead of
    |bench| × corpus. Precision is 1.0 by construction (every flag is
    an exact-cosine verify); recall < 1.0 — a contaminated pair whose
    corpus member sits in an unprobed cell is missed, recall rises with
    ``n_probe`` and equals the exact scan at n_probe = n_cells (tested).

    Returns distinct ``(id_col, max_bench_cosine)`` for flagged ids
    only (the anti-join input for a drop-contaminated step)."""
    centroids = _cell_centroids(corpus, cell_col, vec_col, centroids)
    b = bench.select(
        F.col(bench_id_col).alias("_bid"), F.col(vec_col).alias("bv")
    )
    # per-bench-vector probe cells via the row-local sort+slice fold over
    # the 1-row centroid array (no per-query row_number exchange); the
    # (csim DESC, cell ASC) tiebreak keeps the probed cell SET
    # run-independent — _desc_sim_cmp pins window-ordering parity
    probes = (
        b.crossJoin(F.broadcast(_centroid_array(centroids, cell_col, "cvec")))
        .select(
            "bv",
            F.explode(
                F.expr(
                    # fold INSIDE the lambda on purpose (interpreted
                    # either way; unrolled measured 2x slower there —
                    # see ivf_topk's probe stage)
                    "slice(array_sort(transform(_cs, c -> struct("
                    + cosine_sql("bv", "c.cvec")
                    + f" AS s, c.{cell_col} AS c)), {_desc_sim_cmp()}),"
                    f" 1, {int(n_probe)})"
                )
            ).alias("_p"),
        )
        .select("bv", F.col("_p.c").alias(cell_col))
    )
    scored = corpus.join(probes, cell_col).withColumn(
        "cosine", cosine(vec_col, "bv", dim)
    )
    return (
        scored.filter(F.col("cosine") >= threshold)
        .groupBy(id_col)
        .agg(F.max("cosine").alias("max_bench_cosine"))
    )


def embedding_near_dup(
    corpus: DataFrame,
    threshold: float = 0.45,
    n_bands: int = 16,
    band_bits: int = 2,
    dim: int = 64,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs at scale: banded random-hyperplane
    LSH candidates + exact cosine verification.

    Each band hashes the vector through ``band_bits`` seeded hyperplanes; two
    vectors are candidates if they collide in ANY band (explode over bands →
    one shuffle on the (band, bits) key → bucket-equi self-join). Candidates
    are then verified with the exact cosine, so precision is 1.0; recall is
    1-(1-p^band_bits)^n_bands with p = 1-θ/π. With 16 bands × 2 bits the
    planted-pair regime (cosine ≥ .45, θ ≤ 63°) is caught w.p. ≈ 0.9998.

    Cost is linear in corpus size + bucket collisions — the quadratic
    all-pairs scan (the `x_dedup_embedding_pairs` catalog oracle) is only
    the sf0.01 correctness baseline.

    ``dim`` must match the corpus vectors exactly and is validated up
    front: Spark's ``zip_with`` pads the shorter array with NULLs, so a
    mismatched plane length would NULL every dot product, route every
    row to bucket 0 in every band, and silently turn the bucket
    self-join into the all-pairs quadratic scan this function exists to
    avoid.
    """
    first = corpus.select(F.size(F.col(vec_col)).alias("_d")).first()
    if first is not None and first["_d"] != dim:
        raise ValueError(
            f"embedding_near_dup: dim={dim} but {vec_col!r} vectors have "
            f"{first['_d']} elements — a mismatch NULLs the hyperplane "
            "dot products and degrades the LSH join to all-pairs"
        )
    planes = random_hyperplanes(n_bands * band_bits, dim, seed=seed)
    band_structs = []
    for band in range(n_bands):
        bits = None
        for j in range(band_bits):
            plane = planes[band * band_bits + j]
            arr = "array(" + ", ".join(f"cast({v} as double)" for v in plane) + ")"
            # dim is validated against the corpus above, so the unrolled
            # guarded dot (bit-identical; size(literal)=dim constant-folds)
            bit = F.when(
                F.expr(dot_sql(vec_col, arr, dim)) > 0, F.lit(1 << j)
            ).otherwise(F.lit(0))
            bits = bit if bits is None else bits + bit
        band_structs.append(
            F.struct(F.lit(band).alias("band"), bits.alias("bits"))
        )
    buckets = corpus.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("b")
    ).select(id_col, "b.band", "b.bits")
    # shuffle boundary on the join key → the hyperplane pipeline is one
    # ReusedExchange instead of being recomputed per self-join side
    buckets = buckets.repartition("band", "bits")
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    vecs = corpus.select(F.col(id_col), F.col(vec_col))
    va = vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", cosine("va", "vb", dim))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    n_planes: int = 8,
    planes: list[list[float]] | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k for a whole DataFrame of queries at once.

    Both sides get a bucket id; the join is bucket-equi (co-partitioned —
    one shuffle each side on a 2^n_planes-ary key), then a per-query window
    keeps the k best. Recall < 1.0 by construction: only same-bucket
    neighbors are seen (multi-probe = union over neighbor buckets).

    ``planes``: pass `random_hyperplanes(n, dim)` for random-projection
    buckets (better balance on coordinate-aligned data); default is the
    zero-cost axis-aligned sign-bit bucketing.
    """
    if planes is not None:
        # same up-front dim validation as embedding_near_dup: zip_with
        # pads a length mismatch with NULLs, every WHEN goes false, every
        # row lands in bucket 0, and the bucket join silently becomes the
        # full corpus × queries product this function exists to avoid.
        # BOTH frames are checked — a queries-side mismatch routes every
        # query to bucket 0 just as silently as a corpus-side one
        for side, frame in (("corpus", corpus), ("queries", queries)):
            first = frame.select(F.size(F.col(vec_col)).alias("_d")).first()
            if first is not None and first["_d"] != len(planes[0]):
                raise ValueError(
                    f"lsh_bucket_topk: planes have {len(planes[0])} dims "
                    f"but the {side} frame's {vec_col!r} vectors have "
                    f"{first['_d']} elements — a mismatch NULLs the plane "
                    "dot products and routes every row to bucket 0 "
                    "(all-pairs join)"
                )
        bucket = lambda col: hyperplane_bucket_expr(col, planes)  # noqa: E731
    else:
        bucket = lambda col: bucket_expr(col, n_planes)  # noqa: E731
    c = corpus.withColumn("bucket", bucket(vec_col)).alias("c")
    q = (
        queries.withColumn("bucket", bucket(vec_col))
        .select(query_id_col, "bucket", F.col(vec_col).alias("qv"))
        .alias("q")
    )
    scored = c.join(q, "bucket").withColumn(
        "cosine", cosine(vec_col, "qv", dim)
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id_col, id_col, "cosine", "rk")
    )


#: squared-L2 distance between two double arrays as a sequential fold —
#: same element order as DuckDB's list_sum(list_transform(list_zip(...))),
#: so the doubles are bit-identical cross-engine (the argmin tie contract).
SQDIST = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
    " cast(0.0 as double), (acc, v) -> acc + v)"
)


#: kmeans' own driver-path bound, below :data:`.dispatch.DRIVER_ROWS`:
#: a probe row here is a whole embedding vector, not a 3-column edge,
#: and the Python Lloyd kernel pays k·dim interpreted float operations
#: per row per round. It equals the VALUES emission cutoff
#: (``dispatch._VALUES_MAX_ROWS``), so a driver-path assignment always
#: embeds as a literal relation.
KMEANS_DRIVER_ROWS = 4096


def _kmeans_rows_ok(rows: list) -> bool:
    """Driver-path gate: distinct non-NULL ids, non-NULL uniform-length
    vectors, every element a finite float — the domain where the Python
    kernel is provably bit-identical to the engine's sequential folds
    (no NULL/NaN ordering branches). Anything else falls back to the
    distributed plan, which is always correct."""
    ids = set()
    dim = None
    for r in rows:
        vid, v = r[0], r[1]
        if vid is None or vid in ids or v is None:
            return False
        ids.add(vid)
        if dim is None:
            dim = len(v)
        elif len(v) != dim:
            return False
        for x in v:
            if x is None or not math.isfinite(x):
                return False
    return True


def _kmeans_lloyd_driver(rows: list, k: int, n_iter: int) -> list:
    """Driver fast path: the same deterministic Lloyd trajectory over the
    collected (id, vector) rows — seed = k smallest ids, SEQUENTIAL-fold
    squared-L2 distances (CPython floats are IEEE binary64: bit-identical
    to the engine's left fold), argmin by (dist, cid), value-sorted
    fold-sum centroid means divided once. Same shape as the pq replica
    the test suite pins the distributed trajectory against."""
    data = sorted(((r[0], list(r[1])) for r in rows), key=lambda t: t[0])
    cents = [(vid, v) for vid, v in data[:k]]
    dim = len(data[0][1]) if data else 0
    assign: dict = {}
    for it in range(n_iter):
        assign = {}
        for vid, v in data:
            best = None
            for cid, cv in cents:
                acc = 0.0
                for x, y in zip(v, cv):
                    d = x - y
                    acc = acc + d * d
                t = (acc, cid)
                if best is None or t < best:
                    best = t
            assign[vid] = best[1]
        if it == n_iter - 1:
            break
        members: dict = {}
        for vid, v in data:
            members.setdefault(assign[vid], []).append(v)
        cents = [
            (
                cid,
                [
                    _fold_sum(sorted(v[i] for v in vs)) / float(len(vs))
                    for i in range(dim)
                ],
            )
            for cid, vs in members.items()
        ]
    return [(vid, assign[vid]) for vid, _ in data]


def _fold_sum(xs) -> float:
    """Sequential left fold ``((0.0 + x1) + x2) ...`` — the engine's
    ``aggregate(..., cast(0.0 as double), (acc, v) -> acc + v)``."""
    acc = 0.0
    for x in xs:
        acc = acc + x
    return acc


def kmeans_lloyd(
    corpus: DataFrame,
    k: int = 4,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Lloyd's KMeans as a pure, deterministic DataFrame plan: ``n_iter``
    assign/update rounds from a fixed seed (the ``k`` smallest-id vectors),
    returning ``(id_col, cluster)``.

    Each round is the classic distributed shape — the centroid table (k
    rows) broadcasts, every vector scores k squared-L2 folds JVM-side,
    argmin is a per-vector window with the centroid id as tie-break, and
    the update is one (cluster, dim) aggregation. Determinism: distances
    are sequential folds (bit-identical to DuckDB's list fold), and each
    centroid coordinate is the value-sorted fold-sum of its members
    divided once — no order-dependent float aggregation anywhere, so the
    trajectory (not just the fixpoint) is reproducible cross-engine.

    The sorted-fold update costs a per-(cluster, dim) collect; that is the
    ORACLE-parity formulation. At 100 TB fit with ``kmeans_ivf_index``
    (pyspark.ml Lloyd's, plain float means) and keep this as the
    correctness twin on samples.

    **Driver fast path** (optimization round 1): at or below
    :data:`KMEANS_DRIVER_ROWS` rows (and ``dispatch.DRIVER_ROWS``) with
    distinct integral ids and finite uniform-length vectors, the whole
    trajectory runs in Python — CPython floats ARE IEEE binary64, so
    the sequential folds, the
    (dist, cid) argmin and the value-sorted means are bit-identical to
    the engine's (the pq replica test pins exactly this equivalence) —
    and the assignment embeds as a broadcastable VALUES relation,
    removing the TakeOrdered seed job, the per-round update exchanges
    and the per-run Catalyst re-analysis of the assignment plan. The
    probe is one incremental ``limit().collect()`` over a row-local
    projection (no aggregate upstream: it reads ~KMEANS_DRIVER_ROWS
    rows, never the corpus), so the distributed path pays one cheap
    scan extra and keeps its exact lazy shape.
    """
    emb = corpus.select(
        id_col,
        F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("v"),
    )
    if (
        n_iter >= 1
        and k >= 1
        and emb.schema[id_col].dataType.simpleString()
        in {"tinyint", "smallint", "int", "bigint"}
    ):
        from .dispatch import driver_path

        out_type = emb.schema[id_col].dataType.simpleString()
        out, _ = driver_path(
            emb,
            lambda rows: _kmeans_lloyd_driver(rows, k, n_iter)
            if _kmeans_rows_ok(rows)
            else None,
            f"{id_col} {out_type}, cluster bigint",
            pin=False,
            cap=KMEANS_DRIVER_ROWS,
        )
        if out is not None:
            return out
    # seed = the k smallest-id vectors: TakeOrdered (orderBy + limit), not
    # a row_number over a global ORDER BY window — that window funnels the
    # WHOLE corpus through one partition's sort; TakeOrdered keeps a
    # per-partition top-k and merges k·n_partitions rows on the driver
    cents = (
        emb.orderBy(id_col)
        .limit(k)
        .select(F.col(id_col).alias("cid"), F.col("v").alias("cv"))
    )
    for it in range(n_iter):
        # per-vector argmin as a row-local fold over the 1-row centroid
        # array: array_min over struct(dist, cid) is bit-identical to the
        # old row_number() OVER (PARTITION BY id ORDER BY dist, cid)
        # argmin (NULL dist first, NaN last, cid tiebreak — verified),
        # without the corpus × k exchange+sort the window paid each
        # iteration (guide §2.4). Distances are the same SQDIST
        # sequential fold per (vector, centroid) pair, so every double
        # is unchanged.
        assigned = (
            emb.crossJoin(F.broadcast(_centroid_array(cents, "cid", "cv")))
            .withColumn(
                "_best",
                F.expr(
                    # fold INSIDE the lambda on purpose (interpreted
                    # either way; the unrolled tree measured 2x slower
                    # in lambda contexts — see ivf_topk's probe stage)
                    "array_min(transform(_cs, c -> struct("
                    + SQDIST.format(a="v", b="c.cv")
                    + " AS dist, c.cid AS cid)))"
                ),
            )
            .select(id_col, "v", F.col("_best.cid").alias("cluster"))
        )
        if it == n_iter - 1:
            return assigned.select(
                id_col, F.col("cluster").cast("bigint").alias("cluster")
            )
        cents = (
            assigned.select("cluster", F.posexplode("v").alias("i", "x"))
            .groupBy("cluster", "i")
            .agg(
                (
                    F.expr(
                        "aggregate(array_sort(collect_list(x)),"
                        " cast(0.0 as double), (acc, v) -> acc + v)"
                    )
                    / F.count("*").cast("double")
                ).alias("m")
            )
            .groupBy("cluster")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(i, m))), p -> p.m)"
                ).alias("cv")
            )
            .select(F.col("cluster").alias("cid"), "cv")
        )
    raise AssertionError("unreachable")


def semdedup(
    labeled: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    salt: int = 16,
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup cluster-pruned semantic dedup (Abbas et al., 2023 —
    public): given vectors already labeled with a cluster id (from
    ``kmeans_lloyd`` for oracle parity or ``kmeans_ivf_index`` at scale
    — the ANN index's own cells), drop every vector that has an EARLIER
    (lower-id) in-cluster neighbor at cosine ≥ ``threshold``. Returns
    ``(id_col, cluster_col, kept)``, row per input vector.

    The pair search is an equi-join on (cluster, salt): pair cost is
    Σ|cell|² — the method's point vs the all-pairs O(n²) baseline.
    ``salt`` replicates the b side ``salt``× through the exchange, so it
    is a real shuffle-volume cost, not a free knob: use it when the
    cluster count is BELOW the target parallelism (the catalog's k=4
    case — measured 7.9 s → 2.5 s at local[32]) and pass ``salt=1``
    when cells already outnumber cores (production IVF cell counts),
    where replication buys nothing. One-pass keep-first survivorship:
    in a transitive chain a→b→c with only adjacent pairs close, b AND
    c both drop; exact transitive survivorship is the
    connected-components path (functions.graph)."""
    if salt < 1:
        raise ValueError(f"salt must be >= 1, got {salt}")
    n = labeled.select(
        id_col,
        cluster_col,
        F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("v"),
        F.expr(norm_sql(vec_col, dim)).alias("nrm"),
    ).localCheckpoint(eager=True)
    a = n.select(
        F.col(id_col).alias("id_a"),
        F.col(cluster_col).alias("cl_a"),
        # pmod over xxhash64, not over the raw id: hashing admits ANY id
        # type (a string id fed to pmod(id, salt) would CAST_INVALID_INPUT
        # under ANSI — or salt to NULL under non-ANSI, where salt_a ==
        # salt_b never matches and the dedup silently no-ops corpus-wide),
        # and pmod (not %) keeps hash-negative values in [0, salt)
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt)).alias("salt_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = n.select(
        F.col(id_col).alias("id_b"),
        F.col(cluster_col).alias("cl_b"),
        F.explode(F.expr(f"sequence(0, {salt - 1})")).alias("salt_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    if salt > 1:
        # the salt exists to spread the pair work when cells < cores, but
        # AQE's byte-based coalescing merged the salted exchange back to a
        # handful of partitions (the pair stage is COMPUTE-bound per row,
        # invisible to a bytes advisory — measured 8 tasks / 0.74 s on
        # local[32]). An EXPLICIT numPartitions repartition on the join
        # keys is user-specified, so AQE keeps it; defaultParallelism is
        # the cluster's core count, not a local constant. salt=1
        # (production cell counts) leaves AQE sizing untouched.
        par = labeled.sparkSession.sparkContext.defaultParallelism
        a = a.repartition(par, "cl_a", "salt_a")
        b = b.repartition(par, "cl_b", "salt_b")
    dot = dot_sql("va", "vb", dim)
    dup = (
        a.join(
            b,
            (F.col("cl_a") == F.col("cl_b"))
            & (F.col("salt_a") == F.col("salt_b"))
            & (F.col("id_a") > F.col("id_b")),
        )
        # nullif: a zero-norm vector in a cell must yield NULL similarity
        # (the filter drops it — a zero vector is nobody's near-dup), not
        # a DIVIDE_BY_ZERO job abort under ANSI
        .filter(
            F.expr(dot) / F.nullif(F.col("na") * F.col("nb"), F.lit(0.0))
            >= threshold
        )
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return (
        n.select(id_col, cluster_col)
        .join(dup.withColumn("is_dup", F.lit(True)), id_col, "left")
        .select(id_col, cluster_col, F.col("is_dup").isNull().alias("kept"))
    )


def rrf_fuse(
    ranked: dict[str, DataFrame],
    id_col: str = "doc_id",
    k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR 2009 — public paper)
    of named per-retriever rank lists: ``score(d) = Σ_lists 1/(k + rank)``,
    the standard way hybrid (lexical + semantic) RAG stacks combine a
    BM25 list with an ANN list without comparable score scales.

    Each input frame is ``(id_col, <name>_rank)`` with ranks 1..depth;
    lists are fused with full-outer joins so an item present in only one
    list still scores (its missing-list term is 0). The joins run over
    k-deep lists — bounded by retrieval depth, never corpus size — so the
    fusion cost is O(depth × lists) regardless of corpus scale; all the
    heavy lifting stays in the per-retriever top-k plans.

    Determinism: ranks are exact integers and ``1/(k+rank)`` plus the
    fixed-order sum are exactly-rounded IEEE operations, so fused scores
    are bit-identical across engines (the catalog's hash-parity rule).
    """
    if not ranked:
        raise ValueError("rrf_fuse needs at least one ranked list")
    names = list(ranked)
    fused: DataFrame | None = None
    for name in names:
        df = ranked[name].select(id_col, f"{name}_rank")
        fused = df if fused is None else fused.join(df, id_col, "full_outer")
    terms = [
        F.coalesce(
            F.lit(1.0) / (F.lit(float(k)) + F.col(f"{n}_rank").cast("double")),
            F.lit(0.0),
        )
        for n in names
    ]
    score = terms[0]
    for t in terms[1:]:
        score = score + t
    return fused.select(
        id_col,
        *[F.col(f"{n}_rank").cast("bigint").alias(f"{n}_rank") for n in names],
        score.alias("rrf_score"),
    )
