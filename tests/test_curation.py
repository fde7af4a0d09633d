"""functions.curation unit behavior: decontamination, mixture sampling,
sequence packing. (Oracle parity for the catalog twins is covered by
test_catalog_oracle.py.)"""

from __future__ import annotations

from pyspark.sql import functions as F

from bi_gcp_stitch_repl_spark.functions.curation import (
    decontaminate,
    mixture_sample,
    pack_sequences,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_decontaminate_flags_shared_ngram(spark):
    shared = "one two three four five six seven eight"
    train = _docs(
        spark,
        [
            (1, "a", f"prefix words {shared} suffix words"),
            (2, "a", "totally different content with no overlap at all here"),
            (3, "a", "short doc"),  # < 8 words -> zero grams
        ],
    )
    bench = _docs(spark, [(100, "b", f"{shared} and a benchmark tail")])
    out = {
        r["doc_id"]: (r["n_hit_grams"], r["contaminated"])
        for r in decontaminate(train, bench).collect()
    }
    assert out[1][1] and out[1][0] >= 1
    assert out[2] == (0, False)
    assert out[3] == (0, False)
    assert set(out) == {1, 2, 3}  # every train doc reported exactly once


def test_decontaminate_broadcasts_bench_side(spark):
    train = _docs(spark, [(1, "a", "w1 w2 w3 w4 w5 w6 w7 w8 w9")])
    bench = _docs(spark, [(2, "b", "w2 w3 w4 w5 w6 w7 w8 w9 w10")])
    plan = decontaminate(train, bench)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_mixture_sample_deterministic_and_rate_shaped(spark):
    rows = [(i, f"src{i % 4}", "t") for i in range(400)]
    df = _docs(spark, rows)
    rates = {"src0": 100, "src1": 0, "src2": 50}
    a = {r["doc_id"] for r in mixture_sample(df, rates, default_pct=50).collect()}
    b = {
        r["doc_id"]
        for r in mixture_sample(
            df.repartition(13), rates, default_pct=50
        ).collect()
    }
    assert a == b  # pure function of the key: partitioning-invariant
    assert {i for i in range(400) if i % 4 == 0} <= a  # 100% source all kept
    assert not any(i % 4 == 1 for i in a)  # 0% source all dropped
    kept_half = sum(1 for i in a if i % 4 == 2)
    assert 20 <= kept_half <= 80  # ~50% of 100, loose hash-quality band


def test_pack_sequences_greedy_fill(spark):
    rows = [(i, "s", "x " * 10) for i in range(1, 31)]  # 30 docs x 10 tokens
    df = _docs(spark, rows).withColumn(
        "n_tokens", F.size(F.split("text", " ")).cast("long") - 1
    )
    packed = pack_sequences(df, 25, tokens_col="n_tokens", shard_col="source")
    rows = packed.groupBy("bin_id").agg(
        F.sum("n_tokens").alias("tok"), F.count("*").alias("n")
    )
    got = {r["bin_id"]: (r["tok"], r["n"]) for r in rows.collect()}
    # 10-token docs into 25-token bins: doc k goes to bin (10*(k-1)) div 25
    # -> bins 0,1: 3 docs/30 tokens; pattern repeats every 5 docs over 2 bins.
    assert got[0] == (30, 3) and got[1] == (20, 2)
    assert min(got) == 0 and max(got) == (29 * 10) // 25
    # every bin's PRE-overflow load stays under budget: last doc may overflow,
    # so sum - last_doc < budget for each bin
    assert all(tok - 10 < 25 for tok, _ in got.values())


def test_pack_sequences_shards_pack_independently(spark):
    rows = [(i, f"s{i % 2}", "x " * 4) for i in range(20)]
    df = _docs(spark, rows).withColumn("n_tokens", F.lit(5).cast("long"))
    packed = pack_sequences(df, 10, tokens_col="n_tokens", shard_col="source")
    per_shard = (
        packed.groupBy("source", "bin_id").count().orderBy("source", "bin_id")
    )
    for r in per_shard.collect():
        assert r["count"] == 2  # two 5-token docs per 10-token bin, per shard


def test_pack_first_fit_never_overflows_and_beats_streaming(spark):
    from bi_gcp_stitch_repl_spark.functions.curation import pack_first_fit

    # mixed sizes engineered so streaming-concat overflows but first-fit
    # fills holes: 18,7,18,7,... into 25-token bins
    rows = [(i, "s", "") for i in range(1, 21)]
    df = _docs(spark, rows).withColumn(
        "n_tokens", F.when(F.col("doc_id") % 2 == 1, 18).otherwise(7).cast("long")
    )
    packed = pack_first_fit(df, 25, tokens_col="n_tokens")
    per_bin = {
        r["bin_id"]: r["tok"]
        for r in packed.groupBy("bin_id")
        .agg(F.sum("n_tokens").alias("tok"))
        .collect()
    }
    assert all(tok <= 25 for tok in per_bin.values())  # hard budget, no overflow
    # 10x18 + 10x7 = 250 tokens -> perfect packing = 10 bins of (18+7)
    assert len(per_bin) == 10 and all(tok == 25 for tok in per_bin.values())
    # determinism: same assignment on a different partitioning
    again = {
        (r["doc_id"], r["bin_id"])
        for r in pack_first_fit(
            df.repartition(7), 25, tokens_col="n_tokens"
        ).collect()
    }
    first = {(r["doc_id"], r["bin_id"]) for r in packed.collect()}
    assert first == again


def test_pack_first_fit_oversized_doc_gets_singleton_bin(spark):
    from bi_gcp_stitch_repl_spark.functions.curation import pack_first_fit

    df = _docs(spark, [(1, "s", ""), (2, "s", ""), (3, "s", "")]).withColumn(
        "n_tokens",
        F.when(F.col("doc_id") == 2, 100).otherwise(10).cast("long"),
    )
    packed = {r["doc_id"]: r["bin_id"] for r in pack_first_fit(df, 25, "n_tokens").collect()}
    assert packed[1] == packed[3]            # both small docs share bin 0
    assert packed[2] not in (packed[1],)     # the giant sits alone


def test_mixture_sample_decisions_are_uncorrelated_across_adjacent_keys(spark):
    """Review-r04: the raw polynomial fold is affine in trailing chars, so
    hash-mod sampling kept CONTIGUOUS RUNS of consecutive ids (measured
    ~80% of kept rows adjacent at a 10% rate). With the xorshift-multiply
    finalizer the adjacent-keep rate must sit near the independent-draw
    expectation (~1% of adjacent pairs)."""
    from pyspark.sql import functions as F

    from bi_gcp_stitch_repl_spark.functions.curation import mixture_sample

    df = spark.range(10_000).select(
        F.col("id").alias("doc_id"), F.lit("web").alias("source")
    )
    kept = sorted(
        r["doc_id"]
        for r in mixture_sample(df, {"web": 10}).select("doc_id").collect()
    )
    n = len(kept)
    assert 800 <= n <= 1200  # ~10%
    adjacent = sum(1 for a, b in zip(kept, kept[1:]) if b == a + 1)
    # independent draws: E[adjacent] ≈ n * 10% ≈ 100; the affine fold
    # produced ~800. Deterministic hash → this is a stable exact count.
    assert adjacent < 250, adjacent


def test_dsir_weights_rank_target_slice_higher(spark):
    """The DSIR signal's semantic claim (not just oracle parity): on the
    real corpus, the target slice (lang='en') must average a HIGHER mean
    per-token target/raw ratio than every other language, and the global
    token-weighted mean ratio must sit near 1.0 (importance weights are
    a reweighting, not a drift)."""
    from pyspark.sql import functions as F

    from bi_gcp_stitch_repl_spark.queries import catalog
    from bi_gcp_stitch_repl_spark.queries.curation import x_dsir_weights

    sf = "/root/testdata/sf0.01"
    (docs,) = catalog.tables(spark, sf, "documents")
    scores = x_dsir_weights(spark, sf)
    per_lang = (
        scores.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(F.avg("mean_ratio").alias("avg_ratio"))
        .collect()
    )
    ratios = {r["lang"]: r["avg_ratio"] for r in per_lang}
    others = {l: v for l, v in ratios.items() if l != "en"}
    assert ratios["en"] > max(others.values()), ratios
    # TOKEN-WEIGHTED global mean ~1 (the actual invariant: sum over
    # buckets of cr * q9 / R ≈ 1 by construction — add-one smoothing
    # shifts it only at the bucket-count scale). The per-language
    # averages above are NOT weighted, so they carry no such guarantee.
    tot = scores.agg(
        (F.sum("sum_q9") / (F.sum("n_tokens") * F.lit(1e9))).alias("g")
    ).first()["g"]
    assert 0.99 < tot < 1.01, tot


def test_dsir_driver_fit_declines_totals_outside_bigint():
    """The driver fit of x_dsir_weights must decline a bucket
    model whose raw or target token total leaves BIGINT — the
    distributed spelling's SUM of BIGINT counts would abort there. Every
    product below stays far inside decimal(38,0), which is all the old
    guard checked, so it fitted this model on the driver."""
    from collections import namedtuple

    from bi_gcp_stitch_repl_spark.queries.curation import _dsir_ratio_rows

    Row = namedtuple("Row", ["bucket", "cr", "ct"])
    fits = [Row(0, 10, 4), Row(1, 6, 2)]
    assert [b for b, _ in _dsir_ratio_rows(fits)] == [0, 1]
    assert _dsir_ratio_rows([Row(0, 2**62, 1), Row(1, 2**62, 1)]) is None
    assert _dsir_ratio_rows([Row(0, 2**62, 2**62), Row(1, 2**62, 2**62)]) is None
