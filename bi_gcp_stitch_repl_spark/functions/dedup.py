"""Deduplication library — the production-scale variants.

The catalog queries (``queries.extensions``) use an oracle-portable
polynomial hash so DuckDB can verify every bit; this module is the same
algorithms with the knobs a 100 TB deployment wants:

- JVM ``xxhash64`` for shingle/minhash hashing (vectorized, codegen'd, no
  expression-tree blowup at high permutation counts);
- configurable permutations/bands (the catalog fixes 8/2 for the oracle);
- candidate verification joined back to exact Jaccard;
- connected-component representative selection for keep-one dedup.

Design: every step is a DataFrame transform with one shuffle per logical
stage; nothing collects to the driver. MinHash cost is
O(docs × grams × permutations) map-side; LSH turns the quadratic all-pairs
problem into per-bucket joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def shingle_hashes(docs: DataFrame, text_col: str = "text", n: int = 5) -> DataFrame:
    """(id columns..., hs: array<long>) — distinct n-gram hashes per doc."""
    return (
        docs.withColumn("cs", F.expr(f"transform(split({text_col}, ''), c -> ascii(c))"))
        .withColumn(
            "hs",
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, greatest(size(cs) - {n - 1}, 1)),"
                    f" i -> xxhash64(concat_ws(',', slice(cs, i, {n}))))"
                )
            ),
        )
        .drop("cs", text_col)
    )


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id row per exact content hash. Only the hashes and
    the id shuffle; text never moves. The group key is
    (xxhash64, md5) — 192 bits: at the billions-of-docs scale this
    module targets, a bare 64-bit key expects a birthday collision
    (~50% at 5e9 docs) that would silently DELETE a distinct document;
    both hashes are row-local JVM work, so widening the key costs 32
    bytes per row in the shuffle, not a second text pass."""
    keyed = docs.withColumn(
        "__key", F.struct(F.xxhash64(F.col(text_col)), F.md5(F.col(text_col)))
    )
    keep = keyed.groupBy("__key").agg(F.min(id_col).alias(id_col))
    return docs.join(keep, id_col, "left_semi")


def minhash_bands(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_gram: int = 5,
    n_perm: int = 16,
    n_bands: int = 4,
) -> DataFrame:
    """(id, band, sig) LSH band index — the persistable half of MinHash-LSH.

    Materialize this per corpus (partitioned/bucketed on (band, sig)) and
    incremental ingest only ever computes bands for the NEW batch and
    probes the index: O(batch) work per load instead of re-hashing the
    whole corpus (see ``minhash_lsh_pairs_incremental``).
    """
    if n_perm % n_bands != 0:
        # ValueError, not assert: python -O strips asserts and the LSH
        # recall contract would degrade silently (unused permutations)
        raise ValueError(f"n_perm ({n_perm}) must divide by n_bands ({n_bands})")
    rows_per_band = n_perm // n_bands
    hs = shingle_hashes(docs.select(id_col, text_col), text_col, n_gram)
    # minhash k = min over gram hashes of xxhash64(gram_hash, seed_k).
    # Single-pass fold with an array accumulator (one traversal for all
    # permutations — ~3× over per-permutation transforms); two-step
    # projection so the fold evaluates once.
    init = "array(" + ", ".join("9223372036854775807L" for _ in range(n_perm)) + ")"
    upd = "array(" + ", ".join(
        f"least(acc[{k}], xxhash64(h, {k}))" for k in range(n_perm)
    ) + ")"
    mh_arr = hs.select(
        id_col, F.expr(f"aggregate(hs, {init}, (acc, h) -> {upd})").alias("mh")
    )
    mh = mh_arr.select(
        id_col, *[F.col("mh")[k].alias(f"mh{k}") for k in range(n_perm)]
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias("sig"),
        )
        for b in range(n_bands)
    ]
    return mh.select(
        id_col, F.explode(F.array(*band_structs)).alias("b")
    ).select(id_col, "b.band", "b.sig")


def _band_pairs(a_bands: DataFrame, b_bands: DataFrame, id_col: str) -> DataFrame:
    a = a_bands.alias("a")
    b = b_bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_gram: int = 5,
    n_perm: int = 16,
    n_bands: int = 4,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via MinHash + LSH.

    n_perm minhashes from xxhash64 seeds, n_bands bands of n_perm/n_bands
    rows; pairs sharing any band signature are candidates. Tune
    (n_perm, n_bands) for the target Jaccard threshold:
    P(candidate) = 1 - (1 - J^(n_perm/n_bands))^n_bands.

    The ``repartition`` on the join key puts a shuffle boundary under the
    self-join, so the expensive shingle→minhash pipeline runs ONCE: the two
    sides are canonically identical exchanges, which the non-AQE planner
    folds into a ReusedExchange and AQE satisfies from its runtime stage
    cache (the second side's scan+hash+shuffle stages show as SKIPPED).
    """
    bands = minhash_bands(docs, text_col, id_col, n_gram, n_perm, n_bands)
    bands = bands.repartition("band", "sig")
    return _band_pairs(bands, bands, id_col)


def minhash_lsh_pairs_incremental(
    corpus_bands: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_gram: int = 5,
    n_perm: int = 16,
    n_bands: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dup detection for continuous ingest.

    ``corpus_bands`` is the persisted ``minhash_bands`` index of everything
    already loaded; only the NEW ``batch`` is shingled and hashed. Returns
    ``(pairs, batch_bands)`` where ``pairs`` covers batch↔corpus and
    batch↔batch candidates (id_a < id_b), and ``batch_bands`` is what the
    caller appends to the index after the load commits.

    The scale contract: per ingest the work is O(batch grams) + an
    equi-join probe of the index on (band, sig) — the corpus is never
    re-hashed. With the index bucketed on (band, sig) the probe is
    shuffle-free on the corpus side; a pair emits only when signatures
    collide, so cost tracks true near-dup density exactly like the full
    recompute.
    """
    batch_bands = minhash_bands(batch, text_col, id_col, n_gram, n_perm, n_bands)
    # ONE probe of the corpus index, not one per id ordering: least/
    # greatest normalizes (id_a, id_b) so a single (band, sig) equi-join
    # covers both directions — the index-side join is the per-ingest cost
    # term this function exists to minimize
    a, b = corpus_bands.alias("a"), batch_bands.alias("b")
    cross = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
        )
        .distinct()
    )
    within = _band_pairs(batch_bands, batch_bands, id_col)
    return cross.unionByName(within).distinct(), batch_bands


def jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_gram: int = 5,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (or all pairs when
    candidates is None — the quadratic baseline, small corpora only).

    With candidates, the shingle stream is semi-joined to the candidate
    DOC IDS **before** the gram self-join: filtering pairs only after
    the join would still pay the full Σ df² gram×gram explosion (a hot
    shingle shared by 1e6 docs is ~1e12 join rows) for a candidate set
    of a few hundred — the prune must reach the join inputs, not the
    aggregated output. No forced broadcast: the candidate set is
    LSH-output-sized, not driver-sized, and AQE picks the strategy.

    Output: (id_a, id_b, jaccard >= threshold).
    """
    hs = shingle_hashes(docs.select(id_col, text_col), text_col, n_gram)
    sh = hs.select(id_col, F.explode("hs").alias("g"))
    if candidates is not None:
        cand_ids = (
            candidates.select(F.col("id_a").alias(id_col))
            .union(candidates.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        # restricting ROWS to candidate docs leaves each kept doc's gram
        # set intact, so the per-doc counts below stay exact
        sh = sh.join(cand_ids, id_col, "left_semi")
    cnt = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    join_cond = (F.col("a.g") == F.col("b.g")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    inter = (
        a.join(b, join_cond)
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    if candidates is not None:
        inter = inter.join(candidates, ["id_a", "id_b"], "left_semi")
    ca = cnt.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    cb = cnt.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    return (
        inter.join(ca, "id_a")
        .join(cb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 64,
) -> DataFrame:
    """64-bit SimHash per document over whitespace tokens (xxhash64 token
    hashes; bit votes aggregated in one grouped pass).

    Contract: a document with ZERO tokens (empty/whitespace-only text)
    has no votes and therefore NO output row — an inner join of
    fingerprints back to the corpus drops such docs. Callers needing
    every doc present must left-join and decide a policy for the
    token-less rows (they have no meaningful SimHash; ``exact_dedup``
    is the operator that deduplicates empties against each other)."""
    toks = docs.select(
        id_col,
        # empties dropped (text.tokens_expr's rule): split keeps boundary
        # empty strings for leading/trailing tabs/newlines, and
        # xxhash64('') would vote on all 64 bits — enough to flip
        # fingerprint bits on short documents
        F.explode(
            F.expr(
                f"transform(filter(split(trim({text_col}), '\\\\s+'),"
                " t -> t <> ''), t -> xxhash64(t))"
            )
        ).alias("h"),
    )
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(F.expr(f"2 * (shiftright(h, {b}) & 1) - 1")).alias(f"s{b}")
            for b in range(n_bits)
        ]
    )
    recombine = " + ".join(
        f"(CASE WHEN s{b} >= 0 THEN CAST({1 << b if b < 63 else -(1 << 63)} AS BIGINT) ELSE 0 END)"
        for b in range(n_bits)
    )
    return votes.select(id_col, F.expr(recombine).alias("simhash"))


def _word_segments(
    docs: DataFrame, text_col: str, id_col: str, span_words: int
) -> DataFrame:
    """(id, seg_no, seg, pos): consecutive ``span_words``-word segments per
    document, with the global first-occurrence ordering key ``pos``.

    ``pos = id*1e6 + seg_no`` requires a NUMERIC id: with a string id,
    non-ANSI Spark would cast it to NULL and the first-occurrence filter
    would silently drop EVERY occurrence of each repeated segment
    (including the first), mutilating the rebuilt text — so the
    precondition is enforced loudly here."""
    id_type = dict(docs.dtypes).get(id_col, "")
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"span dedup needs an integral {id_col!r} (got {id_type!r}): "
            "the first-occurrence key is id*1_000_000 + seg_no — map "
            "string ids to a DENSE integer first (a dimension key / "
            "row_number over a stable order). Do NOT map via xxhash64: "
            "its full-range int64 values overflow the ~9e12 id envelope "
            "this key encoding documents"
        )
    return docs.select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(split({text_col}, ' ')) "
                f"/ {span_words}) as int) - 1),"
                f" i -> array_join(slice(split({text_col}, ' '),"
                f" i * {span_words} + 1, {span_words}), ' '))"
            )
        ).alias("seg_no", "seg"),
    ).withColumn(
        # cast BEFORE the multiply: with an int id column the literal
        # multiply runs in 32-bit and wraps at id >= 2148 (ANSI: abort;
        # non-ANSI: colliding/negative ordering keys -> wrong "first
        # occurrence" kept). The ~9e12 envelope holds only in bigint.
        "pos", F.col(id_col).cast("long") * 1_000_000 + F.col("seg_no")
    )


def span_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 10,
) -> DataFrame:
    """C4-style span-level dedup: cut each document into consecutive
    ``span_words``-word segments, keep only the globally-first occurrence
    of every repeated segment (first = lowest (id, position)), and rebuild
    each document from its surviving segments.

    Unlike document-level dedup (exact_dedup / MinHash), this removes the
    boilerplate RUNS that near-duplicate web pages share — the operation
    C4 applies at three-sentence granularity (Raffel et al. 2020, §2.2).

    Scale shape (100 TB): the corpus is exploded ONCE behind an explicit
    ``repartition(seg)`` boundary — the owner aggregate (map-side-
    combinable min, so a viral boilerplate segment is absorbed
    before the exchange) and the join probe both consume that same
    exchange (AQE satisfies the second read from the stage cache), and
    the join itself is co-partitioned, so no further segment shuffle.
    Keep/drop is a flag folded into ONE per-document regroup (count,
    sum(flag), ordered reassembly) — two exchanges total, linear, nothing
    collects. Returns (id, n_segs, n_kept, cleaned_text).

    Position encode: first-occurrence ties break on ``id * 1e6 + seg_no``,
    exact while documents stay under 1e6 segments and ids under ~9e12 —
    swap for ``min(struct(id, seg_no))`` past that."""
    segs = _word_segments(docs, text_col, id_col, span_words).repartition(
        F.col("seg")
    )
    # min(pos) alone decides survivorship: a segment's unique occurrence
    # IS its min-pos occurrence, so a separate n_occ count would be dead
    # weight in the owner aggregate and the join payload
    owners = segs.groupBy("seg").agg(F.min("pos").alias("first_pos"))
    flagged = segs.join(owners, "seg").withColumn(
        "kept", (F.col("pos") == F.col("first_pos")).cast("int")
    )
    return flagged.groupBy(id_col).agg(
        F.count("*").alias("n_segs"),
        F.sum("kept").alias("n_kept"),
        F.array_join(
            F.expr(
                "transform(filter(array_sort(collect_list(struct(seg_no, seg, kept)))"
                ", x -> x.kept = 1), x -> x.seg)"
            ),
            " ",
        ).alias("cleaned_text"),
    )


def winnowing_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm; public): per document, hash every
    k-gram POSITIONALLY, slide a window of ``w`` consecutive hashes, and
    select each window's minimum; the distinct selected hashes are the
    fingerprint set.

    Guarantee (the reason this beats uniform sampling): any substring
    match of length ≥ w + k - 1 between two documents contributes at
    least one SHARED fingerprint, while the expected density is only
    2/(w+1) of all k-grams — so detection is deterministic for long
    matches at ~fraction-of-the-grams index cost.

    Returns (id_col, fp) exploded rows. All per-document work is one
    row-local array expression chain (JVM codegen, no Python, no
    shuffle); only the fingerprints — 8 bytes each, ~2/(w+1) density —
    ever leave the row, which is what an index build at 100 TB wants.
    """
    n_wins = f"greatest(size(hs) - {w - 1}, 1)"
    return (
        docs.withColumn(
            "cs", F.expr(f"transform(split({text_col}, ''), c -> ascii(c))")
        )
        .withColumn(
            "hs",
            # empty-gram guard: a doc shorter than k chars must yield hs=[]
            # (the greatest(..,1) window would otherwise hash a truncated
            # gram and, below, emit a NULL fingerprint shared by every
            # short doc — a bogus candidate-pair magnet)
            F.expr(
                f"CASE WHEN size(cs) < {k} THEN CAST(array() AS ARRAY<BIGINT>)"
                f" ELSE transform(sequence(1, greatest(size(cs) - {k - 1}, 1)),"
                f" i -> xxhash64(concat_ws(',', slice(cs, i, {k})))) END"
            ),
        )
        .withColumn(
            "fp",
            F.explode(
                F.expr(
                    f"CASE WHEN size(hs) = 0 THEN CAST(array() AS ARRAY<BIGINT>)"
                    f" ELSE array_distinct(transform(sequence(1, {n_wins}),"
                    f" i -> array_min(slice(hs, i, {w})))) END"
                )
            ),
        )
        .select(id_col, "fp")
    )
