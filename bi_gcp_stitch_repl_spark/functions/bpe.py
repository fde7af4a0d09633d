"""Byte-pair-encoding merge training over a word-frequency table.

The tokenizer-training primitive of an LLM data pipeline (Sennrich et
al. 2016, public): repeatedly find the most frequent adjacent symbol
pair across the corpus vocabulary and merge it into one symbol — the
learned merge list IS the tokenizer. The catalog's ``x_vocab_encode``
covers greedy encoding against a GIVEN vocabulary; this module learns
the vocabulary's merges, the part the reference pipeline (and most SQL
engines) cannot express.

Determinism: the argmax tie-break is total — (count DESC, first symbol
ASC, second symbol ASC) — and the within-word merge is the classic
LEFT-TO-RIGHT non-overlapping scan (``aaaa`` + pair (a,a) → ``aa aa``,
never the middle pair), so the learned merge sequence is a pure function
of the word-frequency table: hash-gate safe across engines and partition
orders.

Scale shape: BPE training never touches the corpus after the ONE
word-frequency aggregation (map-side combinable; output is
vocabulary-sized — Heaps' law, ~1e6 rows for a 100 TB web corpus). Each
merge round is one explode+sum over the vocabulary table (pair counts),
a 1-row argmax, and a row-local fold rebuilding symbol arrays; round
frames are eagerly checkpointed and superseded checkpoints released
(the k_core storage discipline). The per-round 1-row argmax lands on the
driver because it IS the operator's output row (a merge rule), not a
materialization of data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: chars of a word, 1 per array slot — spelled as an explicit substring
#: transform (not split-by-empty-pattern) so both engine dialects share
#: one UTF-8 code-point semantics
_CHARS = "transform(sequence(1, length({w})), i -> substring({w}, i, 1))"


def word_frequencies(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """``(word, freq)`` — whitespace tokens of the corpus (the
    ``tokens_expr`` tokenizer every text operator shares; tokens kept
    RAW — case folding is locale-sensitive and JVM/DuckDB lowercase can
    disagree outside ASCII, so normalization is the caller's explicit
    choice, same posture as build_vocab), counted. The ONE corpus-linear
    stage of BPE training; its output is vocabulary-sized (Heaps' law),
    which is what makes the merge loop cheap at any corpus scale."""
    from .text import tokens_expr

    return (
        docs.select(
            F.explode(F.expr(tokens_expr(text_col))).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _merge_fold(syms, a: str, b: str, m: str):
    """Column: ``syms`` with every LEFT-TO-RIGHT non-overlapping
    occurrence of the adjacent pair (a, b) replaced by ``m`` — one
    row-local ``aggregate`` carrying (rebuilt array, skip-next) state.
    ``try_element_at(syms, i+1)`` past the end is NULL (plain
    element_at THROWS under ANSI mode) and NULL = b is falsy, so the
    last position can never start a merge."""
    init = F.struct(
        F.expr("cast(array() as array<string>)").alias("acc"),
        F.lit(False).alias("skip"),
    )

    def step(st, i):
        cur = F.element_at(syms, i)
        is_pair = (
            (cur == F.lit(a)) & (F.try_element_at(syms, i + 1) == F.lit(b))
        )
        return (
            F.when(
                st["skip"],
                F.struct(st["acc"].alias("acc"), F.lit(False).alias("skip")),
            )
            .when(
                is_pair,
                F.struct(
                    F.array_append(st["acc"], F.lit(m)).alias("acc"),
                    F.lit(True).alias("skip"),
                ),
            )
            .otherwise(
                F.struct(
                    F.array_append(st["acc"], cur).alias("acc"),
                    F.lit(False).alias("skip"),
                )
            )
        )

    return F.aggregate(
        F.sequence(F.lit(1), F.size(syms)), init, step, lambda st: st["acc"]
    )


def bpe_train(
    words: DataFrame,
    n_merges: int,
    word_col: str = "word",
    freq_col: str = "freq",
) -> DataFrame:
    """Learn ``n_merges`` BPE merge rules from a ``(word, freq)`` table:
    ``(merge_rank, a, b, merged, cnt)`` in learned order, where round
    ``r`` merged the pair (a, b) — the corpus-wide most frequent
    adjacent symbol pair, counted with word frequencies as weights,
    ties to the lexicographically smallest (a, b) — into ``merged =
    a || b``. Training stops early (fewer output rows) when no adjacent
    pair is left; symbols start as single characters with NO
    end-of-word marker (the marker is an encoding-side concern; callers
    wanting one append it to the words first).

    **Adaptive physical strategy** (the pagerank_fixedpoint
    discipline): a vocabulary at or below ``dispatch.DRIVER_ROWS`` rows
    runs the classic in-memory Sennrich loop — bit-identical to the
    distributed loop (property-pinned); above it, each round is one
    zip-explode + map-side-combinable sum over the checkpointed
    vocabulary, a 1-row ordered argmax (the emitted rule itself), and
    the row-local merge fold; superseded round checkpoints are
    released."""
    if n_merges < 0:
        raise ValueError(f"n_merges must be >= 0 (got {n_merges})")
    from .dispatch import driver_path, free_local_checkpoint

    wf = (
        words.select(
            F.col(word_col).cast("string").alias("word"),
            F.col(freq_col).cast("long").alias("freq"),
        )
        .filter(F.col("word").isNotNull() & (F.col("word") != ""))
        .groupBy("word")
        .agg(F.sum("freq").alias("freq"))
    )
    spark = words.sparkSession
    out_schema = (
        "merge_rank int, a string, b string, merged string, cnt long"
    )

    def kernel(rows):
        if any(r.freq is None for r in rows):
            # an all-NULL word: the engine's NULL-skipping SUMs define
            # it, so it takes the distributed loop
            return None
        mn = min((r.freq for r in rows), default=None)
        if mn is not None and mn <= 0:
            raise ValueError(f"word frequencies must be positive (min={mn})")
        return _bpe_driver_rows(rows, n_merges)

    # ONE materialization of the vocabulary aggregate (driver_path's
    # pin): the freq guard, the dispatch probe/driver collect AND the
    # distributed chars-split checkpoint all read it — un-pinned, the
    # guard first() and the driver collect each re-ran the corpus
    # tokenize upstream (job dump: 0.43 s + 0.39 s, two full scans per
    # x_bpe_merges build)
    out, wf = driver_path(wf, kernel, out_schema)
    if out is not None:
        return out
    fb = wf.agg(F.min("freq").alias("mn")).first()
    if fb.mn is not None and fb.mn <= 0:
        raise ValueError(f"word frequencies must be positive (min={fb.mn})")
    w = wf.select(
        "freq", F.expr(_CHARS.format(w="word")).alias("syms")
    ).localCheckpoint(eager=True)
    free_local_checkpoint(wf)
    rules: list[tuple] = []
    for r in range(1, n_merges + 1):
        pc = (
            w.select(
                "freq",
                F.explode(
                    F.zip_with(
                        F.slice(F.col("syms"), 1, F.size("syms") - 1),
                        F.slice(F.col("syms"), 2, F.size("syms") - 1),
                        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                    )
                ).alias("pr"),
            )
            .groupBy("pr.a", "pr.b")
            .agg(F.sum("freq").alias("cnt"))
        )
        # the 1-row argmax IS this round's output rule — a driver fetch
        # of the result, not of data (the watermark-scalar posture)
        best = pc.orderBy(
            F.col("cnt").desc(), F.col("a"), F.col("b")
        ).limit(1).collect()
        if not best:
            break
        a, b, cnt = best[0].a, best[0].b, best[0].cnt
        rules.append((r, a, b, a + b, cnt))
        old = w
        w = w.select(
            "freq", _merge_fold(F.col("syms"), a, b, a + b).alias("syms")
        ).localCheckpoint(eager=True)
        free_local_checkpoint(old)
    return spark.createDataFrame(rules, out_schema)


def _bpe_driver_rows(wrows: list, n_merges: int) -> list[tuple]:
    """Driver fast path: the classic in-memory loop over the collected
    vocabulary (which is Heaps-bounded, NOT corpus-sized) — same count
    weighting, same (cnt DESC, a ASC, b ASC) tie-break, same
    left-to-right merge; bit-identical to the distributed loop (the
    property suite compares both against an independent replica).
    ``wrows`` are the dispatch probe's rows — every (word, freq) row is
    already in hand, no second collect."""
    vocab = [(tuple(r.word), r.freq) for r in wrows]
    rules: list[tuple] = []
    for r in range(1, n_merges + 1):
        counts: dict = {}
        for syms, f in vocab:
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = (
                    counts.get((syms[i], syms[i + 1]), 0) + f
                )
        if not counts:
            break
        (a, b), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        m = a + b
        rules.append((r, a, b, m, cnt))
        nxt = []
        for syms, f in vocab:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(m)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt.append((tuple(out), f))
        vocab = nxt
    return rules


def bpe_encode(
    docs: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(id_col, n_tokens, tokens array<string>)`` — every document's
    whitespace words encoded by the learned merge list: each word starts
    as characters and the merges apply IN RANK ORDER (the standard BPE
    encode — training order is priority order), each as the same
    left-to-right non-overlapping fold training used, so
    ``encode(train_corpus)`` reproduces training's final symbol state.
    ``concat(tokens of a word) == word`` always (BPE is a segmentation,
    never a rewrite) — pinned by tests.

    Scale shape: the merge list is a MODEL ARTIFACT (n_merges rows —
    driver-side by nature, like a broadcast vocab), and encoding runs on
    the DISTINCT-WORD table, not the corpus: each unique word is encoded
    ONCE (the vocabulary is Heaps-bounded) and the token arrays join
    back to the corpus' exploded word positions — exactly how production
    tokenizers amortize (word-level caching), and it sidesteps the
    composed-fold hazard: each fold references its input array ~3×, so
    nesting n_merges folds in ONE expression builds a 3^n tree that
    blows the analyzer's iteration budget (measured at n=6). Instead
    each fold lands as a NAMED COLUMN of its own projection — attribute
    references don't duplicate, and CollapseProject keeps non-cheap
    multiply-referenced aliases split (the registrable_domain_psl
    materialization discipline). Corpus cost: one explode, one
    word-key join (vocabulary side is corpus-vocabulary-scaled, so no
    broadcast hint — AQE decides), one per-document ordered regroup."""
    from .text import tokens_expr

    rules = [
        (r.a, r.b, r.merged)
        for r in merges.orderBy("merge_rank").collect()
    ]
    pos = docs.select(
        F.col(id_col),
        F.posexplode(F.expr(tokens_expr(text_col))).alias("_pos", "word"),
    )
    enc = pos.select("word").distinct().select(
        "word",
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.col("word").substr(i, F.lit(1)),
        ).alias("_s"),
    )
    for a, b, m in rules:
        enc = enc.select(
            "word", _merge_fold(F.col("_s"), a, b, m).alias("_s")
        )
    joined = pos.join(enc, "word")
    regrouped = joined.groupBy(id_col).agg(
        F.flatten(
            F.array_sort(
                F.collect_list(F.struct(F.col("_pos"), F.col("_s")))
            )["_s"]
        ).alias("tokens")
    )
    return regrouped.select(
        F.col(id_col), F.size("tokens").alias("n_tokens"), "tokens"
    )
