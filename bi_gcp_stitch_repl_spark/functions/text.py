"""Text-analysis library: tokenization, quality stats, language scoring,
fingerprints. All native Column expressions (codegen'd, shuffle-free);
the oracle-checked query forms live in ``queries.extensions``."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT = "\\s+"

#: Java regex ``\s`` spelled as an explicit class. Spark (Java) ``\s`` is
#: exactly this set; RE2 (the DuckDB oracle dialect) ``\s`` LACKS \x0B —
#: a vertical-tab-carrying document would make the two dialects disagree.
#: Oracle SQL must use this class (or the per-query duck twin constants
#: built from it) wherever the Spark side says ``\s``.
WS_CLASS = r"[ \t\n\x0B\f\r]"


def tokens_expr(text_col: str) -> str:
    """Spark SQL: whitespace tokens of ``text_col`` with EMPTY TOKENS
    DROPPED. Spark's ``split`` keeps leading/trailing empty strings and
    ``trim`` strips only spaces, so a bare ``size(split(trim(x), '\\s+'))``
    overcounts text with leading/trailing tabs or newlines — every
    tokenizing call site in this module goes through this one
    expression so the counts agree."""
    # SQL string literals eat one level of backslash: the regex \s+ is
    # spelled '\\s+' inside the expression text
    return f"filter(split(trim({text_col}), '\\\\s+'), t -> t <> '')"


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Append quality-scoring features: token/char/space counts, mean token
    length, uppercase ratio, punctuation density — the cheap per-document
    filters a training-data pipeline runs before anything expensive."""
    t = F.col(text_col)
    n_tokens = F.size(F.expr(tokens_expr(text_col))).cast("long")
    # strip ALL whitespace (\s), not just literal spaces: tokens come from
    # a \s+ split, so tab/newline-heavy docs would otherwise count their
    # separators as token mass and inflate avg_token_len past
    # quality_filter's max_avg_token_len gate
    no_space = F.regexp_replace(t, r"\s", "")
    return docs.withColumns(
        {
            "n_tokens": n_tokens,
            "n_chars": F.length(t).cast("long"),
            # nullif: a whitespace-only document has zero tokens — emit
            # NULL, not a division error / infinity
            "avg_token_len": F.length(no_space).cast("double")
            / F.nullif(n_tokens, F.lit(0)),
            "upper_ratio": (
                F.length(F.regexp_replace(t, "[^A-Z]", "")).cast("double")
                / F.greatest(F.length(t), F.lit(1))
            ),
            "punct_ratio": (
                F.length(F.regexp_replace(t, "[^.,;:!?]", "")).cast("double")
                / F.greatest(F.length(t), F.lit(1))
            ),
        }
    )


def quality_filter(
    docs: DataFrame,
    text_col: str = "text",
    min_tokens: int = 5,
    max_avg_token_len: float = 20.0,
    max_punct_ratio: float = 0.3,
) -> DataFrame:
    """The standard cheap quality gate (C4-style heuristics): drop docs that
    are too short, token-degenerate, or punctuation-soup."""
    stats = token_stats(docs, text_col)
    return stats.filter(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("avg_token_len") <= max_avg_token_len)
        & (F.col("punct_ratio") <= max_punct_ratio)
    )


def fingerprint(text: str, modulus: int = 1_000_000_007) -> Column:
    """Polynomial rolling hash of the full text (engine-portable content
    identity; see queries.extensions.x_fingerprint for the oracle twin).
    Takes a column NAME (the hash is built as a SQL string); a Column
    object raises TypeError instead of silently interpolating its repr."""
    if not isinstance(text, str):
        raise TypeError(
            f"fingerprint() takes a column name (str), got {type(text).__name__}"
        )
    t = text
    return F.expr(
        f"aggregate(transform(split({t}, ''), c -> cast(ascii(c) as bigint)),"
        f" cast(0 as bigint), (acc, c) -> (acc*31 + c) % {modulus})"
    )


def lang_scores(docs: DataFrame, keywords: dict[str, list[str]], text_col: str = "text") -> DataFrame:
    """Stopword-marker language scores (one column per language) + argmax
    guess. ``keywords`` maps lang -> marker tokens. Markers are escaped
    into SQL literals (``_sql_str``) — an apostrophe marker like the
    French elision ``l'`` must not break (or inject into) the generated
    expression — and a language with no markers scores a constant 0.

    Counting is EXACT token equality over one LET-bound ``\\s+`` split —
    not the ``replace(' kw ', '')`` length-arithmetic idiom, which
    undercounts ADJACENT repeats (consecutive ``' le le '`` matches share
    a delimiter space: 'le le le' counts 2 of 3) and can flip the argmax
    on short documents whose markers happen to run adjacent."""
    if not keywords:
        raise ValueError("lang_scores needs at least one language")
    out = docs
    for lang, kws in keywords.items():
        if not kws:
            out = out.withColumn(f"score_{lang}", F.lit(0).cast("bigint"))
            continue
        body = " + ".join(
            f"size(filter(ws, t -> t = {_sql_str(kw)}))" for kw in kws
        )
        # one split per language, not per marker (LET-bound token array)
        expr = (
            f"CAST(transform(array({tokens_expr(text_col)}),"
            f" ws -> {body})[0] AS BIGINT)"
        )
        out = out.withColumn(f"score_{lang}", F.expr(expr))
    langs = list(keywords)
    guess = F.lit(langs[0])
    best = F.col(f"score_{langs[0]}")
    for lang in langs[1:]:
        cond = F.col(f"score_{lang}") > best
        guess = F.when(cond, F.lit(lang)).otherwise(guess)
        best = F.when(cond, F.col(f"score_{lang}")).otherwise(best)
    return out.withColumn("lang_guess", guess)


def build_vocab(
    docs: DataFrame, vocab_size: int, text_col: str = "text"
) -> DataFrame:
    """(token, token_id) for the ``vocab_size`` most frequent whitespace
    tokens; id = 1-based frequency rank with deterministic (count DESC,
    token ASC) tiebreak, 0 reserved for OOV.

    Scale: the corpus-wide count is a map-side-combinable groupBy (the
    only corpus-linear stage); ranking then runs on the DISTINCT-TERM set,
    which is vocabulary-sized (Heaps' law: ~1e6 terms for a 100 TB web
    corpus), so the single-partition row_number window is a deliberate
    non-issue — never corpus-scale data through it."""
    from pyspark.sql import Window

    counts = (
        docs.select(F.explode(F.expr(tokens_expr(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), F.col("token"))
    return (
        counts.withColumn("token_id", F.row_number().over(w).cast("int"))
        .filter(F.col("token_id") <= vocab_size)
        .select("token", "token_id")
    )


def encode_tokens(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_tokens, token_ids) — each document's whitespace tokens mapped
    through ``vocab`` (OOV → 0), order preserved. The vocabulary is
    broadcast (it is bounded by vocab_size); the corpus side is explode →
    broadcast-hash left join → ordered regroup, linear with no
    corpus-side shuffle except the per-document regroup."""
    tok = docs.select(
        id_col,
        F.posexplode(F.expr(tokens_expr(text_col))).alias("pos", "token")
    )
    enc = tok.join(F.broadcast(vocab), "token", "left").withColumn(
        "tid", F.coalesce("token_id", F.lit(0)).cast("int")
    )
    return enc.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.expr("transform(array_sort(collect_list(struct(pos, tid))), x -> x.tid)")
        .alias("token_ids"),
    )


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 relevance of every document to a bag of query terms
    (``terms`` must be non-empty — an empty query has no meaningful
    score and raises rather than crashing deeper in with AttributeError).

    One token explode → ONE per-document aggregation (doc length + one
    conditional tf counter per term, all in the same pass/shuffle); the
    corpus statistics (N, Σdl, per-term df) aggregate that per-doc frame
    down to a single row that broadcasts back over it — the token stream
    is never shuffled twice and the corpus frame never sees a global sort.

    Determinism contract (the catalog's bit-parity rule): the classic
    ``ln``-based idf is replaced by its argument ``(N - df + 0.5) /
    (df + 0.5)`` because every remaining operation (+,-,*,/) is exactly
    rounded under IEEE 754 and therefore bit-identical across engines,
    while ``ln`` is only 1-ulp-accurate and engine-dependent. Honest
    caveat: the transform is monotone PER TERM, which preserves
    single-term rankings exactly but not multi-term sums — the linear
    idf weights rare terms more aggressively than ln-idf, so this is the
    "linear-idf BM25" variant (a deterministic member of the BM25
    scoring family), not a rank-identical reproduction of ln-BM25.
    Score terms accumulate in fixed list order. Tokenization is the
    module-wide ``tokens_expr`` (whitespace runs, empties dropped), so
    ``dl`` agrees with ``token_stats``' n_tokens.
    """
    if not terms:
        raise ValueError("bm25_scores needs at least one query term")
    tok = docs.select(
        id_col, F.explode(F.expr(tokens_expr(text_col))).alias("term")
    )
    aggs = [F.count("*").alias("dl")]
    for i, t in enumerate(terms):
        aggs.append(
            F.sum(F.when(F.col("term") == t, 1).otherwise(0)).alias(f"tf{i}")
        )
    stats = tok.groupBy(id_col).agg(*aggs)
    g_aggs = [F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")]
    for i in range(len(terms)):
        g_aggs.append(
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
        )
    corpus = stats.agg(*g_aggs)

    n_d = F.col("n_docs").cast("double")
    avgdl = F.col("sum_dl").cast("double") / n_d
    dl_d = F.col("dl").cast("double")
    score = None
    for i in range(len(terms)):
        tf = F.col(f"tf{i}").cast("double")
        df_ = F.col(f"df{i}").cast("double")
        idf = (n_d - df_ + F.lit(0.5)) / (df_ + F.lit(0.5))
        denom = tf + F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * (dl_d / avgdl)
        )
        s = (idf * (tf * F.lit(k1 + 1.0))) / denom
        score = s if score is None else score + s
    return stats.crossJoin(F.broadcast(corpus)).select(
        id_col, "dl", score.alias("bm25")
    )


def _sql_str(s: str) -> str:
    """Escape a symbol into a single-quoted Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _apply_merge_expr(seq_col: str, a: str, b: str) -> str:
    """Spark SQL fold that replaces every non-overlapping adjacent
    (a, b) pair in a symbol array with the merged symbol a||b, left to
    right — the BPE merge-application rule. Carries one pending symbol
    through the fold; '\\u0000' marks 'no pending' — never a real symbol
    because ``bpe_train`` strips NULs during tokenization (an embedded
    NUL would otherwise collide with the sentinel and corrupt merge
    application)."""
    nul = "'\\u0000'"
    lit_a, lit_b = _sql_str(a), _sql_str(b)
    merged = _sql_str(a + b)
    return (
        f"aggregate({seq_col}, "
        f"named_struct('out', CAST(array() AS ARRAY<STRING>), 'prev', {nul}), "
        f"(acc, x) -> IF(acc.prev = {lit_a} AND x = {lit_b}, "
        f"  named_struct('out', concat(acc.out, array({merged})), 'prev', {nul}), "
        f"  IF(acc.prev = {nul}, "
        f"    named_struct('out', acc.out, 'prev', x), "
        f"    named_struct('out', concat(acc.out, array(acc.prev)), 'prev', x))), "
        f"acc -> IF(acc.prev = {nul}, acc.out, concat(acc.out, array(acc.prev))))"
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_size: int = 1,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Distributed byte-pair-encoding merge learning (Sennrich et al. 2016,
    public): start from character symbols per word, repeatedly count
    adjacent symbol pairs corpus-wide and merge the most frequent pair
    everywhere, until ``n_merges`` merges are learned. Returns
    ``(merges, encoded)`` where ``merges`` is the learned merge list in
    order and ``encoded`` is ``(id_col, tokens array<string>)`` under the
    final merge table.

    Scale shape per pass — exactly KMeans' loop structure: one explode +
    hash aggregation over (pair) to count (map-side combinable), a small
    driver collect to pick the top pairs (deterministic tie-break: count
    desc, pair asc — byte order, reproducible anywhere), then a row-local
    fold applies the merges with no shuffle. Word-internal only (symbols
    never cross whitespace), matching standard BPE pre-tokenization.
    NUL characters are stripped from the text up front: ``U+0000`` is the
    fold's 'no pending symbol' sentinel, so an embedded NUL would
    otherwise become a real symbol that collides with it. Plans re-grow
    per pass, so sequences localCheckpoint each pass — same
    unbounded-lineage rule as connected_components.

    **Merge-count envelope**: each pass costs one full corpus aggregation
    plus a driver collect, so a real 30k-merge vocabulary MUST NOT run
    with ``batch_size=1`` (30k corpus passes). ``batch_size=k`` learns up
    to k *mutually non-interacting* merges per pass — pairs sharing no
    symbol (nor a merged result) with an earlier pick of the same pass,
    whose counts are therefore unaffected by applying the earlier picks —
    cutting passes by ~k×. The first pick of every pass is always the
    true global argmax; later picks are the standard scalable
    approximation (used by production BPE trainers): a pair CREATED by an
    earlier merge in the same pass only becomes a candidate next pass, so
    a batched trajectory can deviate from strict-greedy where a freshly
    created pair would have out-counted a batched pick. ``batch_size=1``
    is exact strict-greedy (tested against a sequential reference).

    The learned artifact (the merge list) is tiny and driver-side by
    design — it's the tokenizer you ship; the corpus-side work is all
    aggregations.
    """
    words = docs.withColumn(
        "_bpe_txt", F.translate(F.col(text_col), "\x00", "")
    ).select(
        id_col,
        F.explode(F.expr(tokens_expr("_bpe_txt"))).alias("w"),
    ).withColumn("pos", F.monotonically_increasing_id())
    seqs = words.select(
        id_col, "pos", F.expr("split(w, '')").alias("seq")
    ).localCheckpoint(eager=True)

    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        want = min(batch_size, n_merges - len(merges))
        # over-fetch 4× so the non-interaction filter usually still fills
        # the batch; worst case the pass learns fewer merges and the next
        # pass re-counts — correctness never depends on the fetch depth
        top = (
            seqs.select(
                F.explode(
                    F.expr(
                        "CASE WHEN size(seq) < 2 THEN CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>) "
                        "ELSE transform(sequence(1, size(seq) - 1), "
                        "i -> named_struct('a', element_at(seq, i), 'b', element_at(seq, i + 1))) END"
                    )
                ).alias("p")
            )
            .groupBy("p.a", "p.b")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), "a", "b")
            .limit(max(1, want * 4))
            .collect()
        )
        if not top:
            break
        batch: list[tuple[str, str]] = []
        used: set[str] = set()
        for row in top:
            a, b = row["a"], row["b"]
            if batch and ({a, b, a + b} & used):
                continue  # interacts with an earlier pick of this pass
            batch.append((a, b))
            used |= {a, b, a + b}
            if len(batch) == want:
                break
        merges.extend(batch)
        expr = "seq"
        for a, b in batch:  # one composed fold — a single Spark pass
            expr = _apply_merge_expr(expr, a, b)
        seqs = seqs.select(
            id_col, "pos", F.expr(expr).alias("seq")
        ).localCheckpoint(eager=True)

    encoded = (
        seqs.select(id_col, "pos", F.posexplode("seq").alias("ti", "tok"))
        .groupBy(id_col)
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, ti, tok))),"
                " s -> s.tok)"
            ).alias("tokens")
        )
    )
    return merges, encoded
