"""Diversified retrieval rerank: Maximal Marginal Relevance (MMR).

Carbonell & Goldstein 1998 (public): given a query vector and a relevance-
ranked candidate pool, greedily select k results maximizing

    mmr(d) = lam * rel(q, d) - mu * max_{s in S} sim(d, s)

so the result set trades raw relevance against redundancy with what is
already selected. This is the standard last stage of a retrieval pipeline
(ANN recall -> rerank), complementing the repo's recall stages
(functions.similarity: brute kNN, IVF, LSH buckets, hybrid RRF).

Scale shape (the part that must survive 100 TB): relevance scoring and the
top-``pool`` cut are DISTRIBUTED — the 1-row query vector is collected once
and embedded as a foldable literal (no per-call broadcast or guard job), a
JVM-side sequential-fold cosine runs per row, and a TakeOrdered (never a
global sort). Only then does the algorithm leave the cluster: the greedy
selection is inherently sequential (pick i depends on picks 1..i-1), so it
runs on the DRIVER over the collected pool — a documented BOUNDED collect
(``pool`` rows; pool is a constant ≤ a few hundred in any real reranker,
enforced here), the same discipline as the capped BPE argmax in
functions/text.py. The ``pool²`` pairwise diversity cosines are computed on
the driver too, as the EXACT Python replica of the engine's sequential
fold: CPython floats are IEEE-754 binary64 and ``x * y`` / ``acc + v`` /
``math.sqrt`` are the same single correctly-rounded operations the JVM
executes, so the left fold produces bit-identical doubles (pinned by
test_functions.py::test_mmr_python_fold_matches_engine_fold). That replaces
what used to be a localCheckpoint + crossJoin + a pool²-row collect — ONE
TakeOrdered job now moves ``pool`` vectors (≤ 512 · dim doubles) instead of
pool² sim rows, strictly fewer driver bytes AND 5 fewer scheduled jobs per
call. ``lam*rel - mu*maxsim`` stays exact binary64 that DuckDB reproduces
bit-for-bit, so the catalog twin hash-matches.

``mu`` is an explicit parameter instead of the textbook ``1 - lam``: the
cross-engine contract needs the same binary64 LITERAL on both sides, and
``1 - 0.7`` in IEEE arithmetic is 0.30000000000000004, not 0.3.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from .dispatch import local_df

#: Spark sequential-fold dot / norm over double arrays — identical
#: accumulation order to DuckDB's list_sum(list_transform(list_zip(...)))
#: (see queries/extensions.py similarity section for the parity proof).
_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
    " cast(0.0 as double), (acc, v) -> acc + v)"
)
_NORM = (
    "sqrt(aggregate(transform({a}, x -> x * x),"
    " cast(0.0 as double), (acc, v) -> acc + v))"
)

#: hard cap on the rerank pool: the driver collects pool² pairwise sims
#: and the greedy is O(k·pool²) Python work — 512 keeps that at ≤262k
#: rows / a few MB (real rerankers use tens-to-hundreds); 4096 would
#: have allowed a ~17M-row driver collect, an OOM masquerading as a cap.
MAX_POOL = 512

def _fold_dot_py(a, b):
    """Driver replica of the engine dot fold (``_DOT``): ``aggregate(
    zip_with(a, b, (x, y) -> x * y), 0.0d, (acc, v) -> acc + v)``. Same
    left fold, same binary64 ops, bit-identical result. ``zip_with``
    pads the shorter array with NULL and a NULL term poisons every later
    ``acc + v``, so mixed dimensions / NULL elements yield NULL —
    mirrored here as None."""
    if a is None or b is None or len(a) != len(b):
        return None
    acc = 0.0
    for x, y in zip(a, b):
        if x is None or y is None:
            return None
        acc = acc + x * y
    return acc


def _fold_norm_py(v):
    """Driver replica of the engine norm fold (``_NORM``) — see
    :func:`_fold_dot_py` for the bit-identity argument."""
    if v is None:
        return None
    acc = 0.0
    for x in v:
        if x is None:
            return None
        acc = acc + x * x
    return math.sqrt(acc)


_SCHEMA = StructType(
    [
        StructField("rnk", IntegerType(), False),
        StructField("vec_id", LongType(), False),
        StructField("rel", DoubleType(), True),
        StructField("mmr", DoubleType(), True),
    ]
)


def mmr_rerank(
    emb: DataFrame,
    query: DataFrame,
    k: int = 8,
    pool: int = 24,
    lam: float = 0.7,
    mu: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(rnk, vec_id, rel, mmr): the k MMR-selected rows of ``emb``.

    ``emb``: (id_col, vec_col) corpus (vec_col: array<float|double>).
    ``query``: 1-row DataFrame whose first column is the query vector.
    Zero-norm rows score NULL relevance and are excluded from the pool
    (never an ANSI divide-by-zero). Ties break on ascending id at every
    argmax, so the output is deterministic. Returns fewer than k rows when
    the pool is smaller than k.
    """
    qcol = query.columns[0]
    # ONE take(2) both validates arity AND yields the query vector —
    # replacing the former dedicated limit(2).count() guard job + the
    # crossJoin(broadcast(q)) with a foldable literal (the engine-side
    # cast to double runs inside the take, so the collected values are
    # the exact binary64 the old broadcast carried; F.lit round-trips
    # binary64 exactly). One fewer Spark job per call AND one fewer
    # broadcast site in the batch-rerank loop.
    qrows = query.select(
        F.expr(f"transform({qcol}, x -> cast(x as double))").alias("_qe")
    ).take(2)
    if len(qrows) != 1:
        # a multi-row query frame would silently cross-join every corpus
        # row N times and collapse duplicate ids downstream
        raise ValueError("query must be exactly one row")
    qvec = qrows[0]._qe
    if qvec is None or len(qvec) == 0:
        # a NULL/empty query vector made every _rel NULL under the old
        # crossJoin form (all rows filtered); keep that contract
        qe = F.expr("cast(null as array<double>)")
    else:
        qe = F.array(*[F.lit(x).cast("double") for x in qvec])
    dot = _DOT.format(a="_v", b="_qe")
    norm_v = _NORM.format(a="_v")
    norm_q = _NORM.format(a="_qe")
    scored = (
        emb.select(
            F.col(id_col).cast("long").alias("_id"),
            F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("_v"),
        )
        .withColumn("_qe", qe)
        .withColumn("_rel", F.expr(f"{dot} / nullif({norm_v} * {norm_q}, 0.0d)"))
        .filter(F.col("_rel").isNotNull())
    )
    # non-NULL rel already implies a nonzero vector norm — skip the
    # defensive re-filter (it would re-run the norm fold corpus-wide)
    return mmr_rerank_scored(
        scored, k=k, pool=pool, lam=lam, mu=mu, filter_zero_norm=False
    )


def mmr_rerank_scored(
    scored: DataFrame,
    k: int = 8,
    pool: int = 24,
    lam: float = 0.7,
    mu: float = 0.3,
    filter_zero_norm: bool = True,
) -> DataFrame:
    """MMR over a PRE-SCORED candidate frame ``(_id, _v, _rel)`` — the
    hybrid-retrieval composition point: relevance can come from ANY
    upstream ranker (fold cosine via :func:`mmr_rerank`, or an RRF-fused
    hybrid score joined back onto the embedding vectors), while the
    diversity term stays pairwise cosine over ``_v``. Zero-norm vectors
    are excluded up front (``filter_zero_norm``): they cannot carry a
    cosine diversity penalty, and letting one through would make every
    later pick's max-sim NULL — callers whose scoring already proves the
    norm nonzero (cosine relevance) pass False to skip the extra
    corpus-wide norm fold.
    """
    if pool > MAX_POOL:
        raise ValueError(f"pool={pool} exceeds MAX_POOL={MAX_POOL}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    spark = scored.sparkSession
    if filter_zero_norm:
        norm_v = _NORM.format(a="_v")
        scored = scored.filter(F.expr(f"nullif({norm_v}, 0.0d) is not null"))
    # ONE TakeOrdered job collects the BOUNDED pool — ids, vectors and
    # relevance together (≤ MAX_POOL·dim doubles, strictly fewer driver
    # bytes than the pool²-row sim collect this replaces).
    # Pool hygiene for dirty corpora: a NULL _id would crash the greedy's
    # sorted() tie-break; a NaN _rel passes isNotNull, sorts ABOVE every
    # real score descending, and wins every `score > best` argmax — both
    # are row-local filters, not behavior the catalog twin can hit (its
    # relevance is a finite-float fold, same contract as every cosine
    # query in the catalog).
    cand_rows = (
        scored.select("_id", "_v", "_rel")
        .filter(
            F.col("_id").isNotNull()
            & F.col("_rel").isNotNull()
            & ~F.isnan(F.col("_rel"))
        )
        .orderBy(F.col("_rel").desc(), "_id")
        .limit(pool)
        .collect()
    )
    rel_rows = [(r._id, r._rel) for r in cand_rows]
    if len({i for i, _ in rel_rows}) != len(rel_rows):
        # dict(rel_rows) below would silently keep one arbitrary rel per
        # id and return fewer than k rows with wrong attribution
        raise ValueError("duplicate _id in the rerank pool")
    # pairwise diversity cosines on the driver — the bit-identical Python
    # replica of the engine fold `_DOT / nullif(_NORM * _NORM, 0.0d)`
    # (see module docstring; O(pool²·dim) bounded work, ≤ ~17M flops at
    # the MAX_POOL cap, corpus-independent). IEEE multiplication commutes
    # exactly, so sim(a, b) == sim(b, a) bit-for-bit and each unordered
    # pair is computed once.
    vecs = {r._id: r._v for r in cand_rows}
    norms = {i: _fold_norm_py(v) for i, v in vecs.items()}
    sim_map: dict[tuple[int, int], float] = {}
    ids = [i for i, _ in rel_rows]
    for ai_pos, ai in enumerate(ids):
        na = norms[ai]
        for bi in ids[ai_pos + 1 :]:
            nb = norms[bi]
            if na is None or nb is None:
                s = None
            else:
                denom = na * nb
                if denom == 0.0:  # nullif(denom, 0.0d)
                    s = None
                else:
                    d = _fold_dot_py(vecs[ai], vecs[bi])
                    s = None if d is None else d / denom
            sim_map[(ai, bi)] = s
            sim_map[(bi, ai)] = s
    if any(s is None or math.isnan(s) for s in sim_map.values()):
        # a NULL pairwise cosine means mixed vector dimensions (zip_with
        # pads with NULL); a NaN one means a NaN vector element survived
        # the zero-norm filter (nullif(NaN, 0.0) is non-null) — max()
        # over None would crash deep in the greedy and max() over NaN is
        # ORDER-DEPENDENT, silently diverging from the SQL twin; both
        # fail at the boundary with the actual cause named
        raise ValueError(
            "NULL/NaN pairwise similarity in the rerank pool — mixed"
            " vector dimensions or invalid vectors"
        )
    # greedy selection over collected SCALARS: every float that decides an
    # argmax was computed engine-side above; lam*rel - mu*maxsim is exact
    # binary64, bit-identical to the SQL twin's expression
    remaining = dict(rel_rows)
    selected: list[tuple[int, int, float, float]] = []
    while remaining and len(selected) < k:
        best_id, best_mmr, best_rel = None, None, None
        for vid in sorted(remaining):  # ascending-id tie-break
            rel = remaining[vid]
            if selected:
                maxsim = max(sim_map[(vid, s[1])] for s in selected)
            else:
                maxsim = 0.0
            score = lam * rel - mu * maxsim
            if best_mmr is None or score > best_mmr:
                best_id, best_mmr, best_rel = vid, score, rel
        selected.append((len(selected) + 1, best_id, best_rel, best_mmr))
        del remaining[best_id]
    return local_df(spark, selected, _SCHEMA)
