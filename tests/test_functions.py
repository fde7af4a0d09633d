"""Scale-path LLM-pipeline library tests: dedup, similarity, text analysis,
multimodal plumbing — on driver testdata plus synthetic corpora with planted
duplicates."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from bi_gcp_stitch_repl_spark.functions import dedup, multimodal, similarity, text
from .conftest import SF_SMOKE


def corpus(spark):
    """Synthetic corpus with planted exact + near duplicates."""
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("today", "tomorrow")),  # near dup of 0
        (3, "completely different content about spark query engines and shuffles"),
        (4, "another unrelated document mentioning parquet columnar storage files"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_lowest_id(spark):
    out = dedup.exact_dedup(corpus(spark))
    assert sorted(r["doc_id"] for r in out.collect()) == [0, 2, 3, 4]


def test_minhash_lsh_finds_planted_pairs(spark):
    pairs = dedup.minhash_lsh_pairs(corpus(spark), n_perm=16, n_bands=8)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in got  # exact dup always collides
    assert (0, 2) in got or (1, 2) in got  # near dup caught by some band
    assert (3, 4) not in got  # unrelated docs don't collide


def test_jaccard_verification_scores(spark):
    cand = dedup.minhash_lsh_pairs(corpus(spark), n_perm=16, n_bands=8)
    verified = dedup.jaccard_pairs(corpus(spark), candidates=cand, threshold=0.5)
    scores = {(r["id_a"], r["id_b"]): r["jaccard"] for r in verified.collect()}
    assert scores[(0, 1)] == 1.0
    assert 0.5 <= scores[(0, 2)] < 1.0


def test_simhash_near_dups_close_in_hamming(spark):
    fps = {r["doc_id"]: r["simhash"] for r in dedup.simhash_fingerprints(corpus(spark)).collect()}
    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")
    assert hamming(fps[0], fps[1]) == 0          # identical text
    assert hamming(fps[0], fps[2]) <= 8          # near dup: few bits differ
    assert hamming(fps[0], fps[3]) > 16          # unrelated: far


def test_brute_force_topk_self_is_best(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    qvec = emb.filter("vec_id = 0").collect()[0]["embedding"]
    top = similarity.brute_force_topk(emb, qvec, k=5).collect()
    assert top[0]["vec_id"] == 0 and math.isclose(top[0]["cosine"], 1.0, rel_tol=1e-6)
    assert all(top[i]["cosine"] >= top[i + 1]["cosine"] for i in range(4))


def test_lsh_bucket_topk_matches_bruteforce_within_bucket(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter("vec_id IN (0, 1, 2)").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    approx = similarity.lsh_bucket_topk(emb, queries, k=3, n_planes=6)
    rows = approx.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, hits in by_q.items():
        assert hits[0]["vec_id"] == qid  # self always lands in own bucket, rank 1
        assert len(hits) <= 3


def test_token_stats_and_quality_filter(spark):
    docs = spark.createDataFrame(
        [
            (1, "a solid document with plenty of ordinary words in it"),
            (2, "x"),  # too short
            (3, "!!! ??? ... ,,, ;;; ::: !!!"),  # punctuation soup
        ],
        "doc_id long, text string",
    )
    kept = text.quality_filter(docs, min_tokens=5)
    assert [r["doc_id"] for r in kept.collect()] == [1]
    stats = {r["doc_id"]: r for r in text.token_stats(docs).collect()}
    assert stats[1]["n_tokens"] == 10
    assert stats[3]["punct_ratio"] > 0.5


def test_lang_scores_argmax(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog and the bird"),
            (2, "der hund und die katze und der vogel"),
        ],
        "doc_id long, text string",
    )
    out = text.lang_scores(
        docs, {"en": ["the", "and"], "de": ["der", "und", "die"]}
    )
    got = {r["doc_id"]: r["lang_guess"] for r in out.collect()}
    assert got == {1: "en", 2: "de"}


def test_multimodal_decode_plumbing(spark):
    rows = [(1, bytearray(b"\x10payload-bytes\x20")), (2, bytearray(b"")), (3, None)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    meta = multimodal.attach_payload_meta(df)
    got = {r["media_id"]: r for r in meta.collect()}
    assert got[1]["n_bytes"] == 15 and len(got[1]["content_sha256"]) == 64
    decoded = {
        r["media_id"]: r
        for r in multimodal.decode_image_meta(
            df, partitions=2, decoder=multimodal._stub_image_decoder
        ).collect()
    }
    assert decoded[1]["_decode_ok"] and decoded[1]["width"] == 1 + 0x10 % 64
    assert not decoded[2]["_decode_ok"] and decoded[2]["width"] is None
    assert not decoded[3]["_decode_ok"]


def test_multimodal_resize_plumbing(spark):
    rows = [(1, bytearray(b"abc")), (2, bytearray(b"")), (3, None)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {
        r["media_id"]: r
        for r in multimodal.resize_images(
            df, 32, 32, partitions=2, resizer=multimodal._stub_image_resizer
        ).collect()
    }
    # 32*32//64 = 16 bytes, payload cycled to length
    assert got[1]["_resize_ok"] and bytes(got[1]["payload"]) == (b"abc" * 6)[:16]
    assert got[1]["width"] == 32 and got[1]["height"] == 32
    assert not got[2]["_resize_ok"] and got[2]["payload"] is None
    assert not got[3]["_resize_ok"]
    # resized output composes with the metadata stage
    meta = multimodal.attach_payload_meta(
        multimodal.resize_images(
            df, 32, 32, resizer=multimodal._stub_image_resizer
        ).filter("_resize_ok")
    )
    assert meta.filter("n_bytes = 16").count() == 1


def test_multimodal_audio_features_plumbing(spark):
    rows = [(1, bytearray(bytes(range(64)))), (2, None)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {
        r["media_id"]: r
        for r in multimodal.extract_audio_features(
            df, n_features=4, extractor=multimodal._stub_audio_features
        ).collect()
    }
    feats = out[1]["features"]
    assert out[1]["_extract_ok"] and len(feats) == 4
    # chunk means of 0..63 in 16-byte strides, scaled by 255
    expect = [(sum(range(i, i + 16)) / 16) / 255.0 for i in (0, 16, 32, 48)]
    assert all(abs(a - b) < 1e-6 for a, b in zip(feats, expect))
    assert not out[2]["_extract_ok"] and out[2]["features"] is None
    # shape-compatible with the embeddings similarity stack
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    assert dict(emb.dtypes)["embedding"] == dict(
        multimodal.extract_audio_features(
            df, 4, extractor=multimodal._stub_audio_features
        ).dtypes
    )["features"]


def test_frame_sample_plan(spark):
    df = spark.createDataFrame([(1, 10.0), (2, 0.5)], "media_id long, duration_sec double")
    plan = multimodal.frame_sample_plan(df, every_n_seconds=2.5)
    by_id = {}
    for r in plan.collect():
        by_id.setdefault(r["media_id"], []).append(r["sample_ts"])
    assert sorted(by_id[1]) == [0.0, 2.5, 5.0, 7.5, 10.0]
    assert by_id[2] == [0.0]


def test_multimodal_extract_video_frames_real_decode(spark):
    """REAL Y4M decode through the mapInPandas seam: stride sampling,
    full-clip frame counting, exact constant-frame luma means, valid PNG
    frame payloads, and error isolation for undecodable rows."""
    import numpy as np

    from bi_gcp_stitch_repl_spark.functions import codecs

    clip = codecs.encode_y4m(
        [np.full((4, 6), 10 * (f + 1), np.uint8) for f in range(5)]
    )
    rows = [(1, bytearray(clip)), (2, bytearray(b"not video")), (3, None)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = multimodal.extract_video_frames(df, every_n_frames=2, partitions=2)
    by_id = {}
    for r in out.collect():
        by_id.setdefault(r["media_id"], []).append(r)
    good = sorted(by_id[1], key=lambda r: r["frame_idx"])
    assert [r["frame_idx"] for r in good] == [0, 2, 4]
    assert all(r["n_frames"] == 5 and r["_decode_ok"] for r in good)
    assert [r["mean_luma"] for r in good] == [10.0, 30.0, 50.0]
    assert all((r["width"], r["height"]) == (6, 4) for r in good)
    # sampled frames re-encode as decodable PNGs of the right content
    arr, mode = codecs.decode_png(bytes(good[1]["frame_png"]))
    assert mode == "L" and arr.shape == (4, 6, 1) and (arr == 30).all()
    assert len(by_id[2]) == 1 and not by_id[2][0]["_decode_ok"]
    assert len(by_id[3]) == 1 and not by_id[3][0]["_decode_ok"]


def test_extract_video_frames_eager_decoder_not_reinvoked(spark):
    """Stride support is detected by SIGNATURE, not by catching TypeError
    from the call (ADVICE r04): an eager injected decoder that raises
    TypeError internally must surface as a failed decode (_decode_ok
    False), not be silently re-invoked without the stride — which would
    run side effects twice and mask the genuine bug."""
    import numpy as np

    calls = []

    def eager_buggy_decoder(raw, every_n=1):
        calls.append(1)  # eager side effect at call time
        raise TypeError("genuine bug inside the decoder")

    df = spark.createDataFrame([(1, bytearray(b"xx"))], "media_id long, payload binary")
    out = multimodal.extract_video_frames(
        df, every_n_frames=2, decoder=eager_buggy_decoder, partitions=1
    ).collect()
    assert len(out) == 1 and not out[0]["_decode_ok"]

    # a strideless decoder still works through the signature probe
    def strideless(raw):
        yield np.full((2, 3, 1), 7, np.uint8)
        yield np.full((2, 3, 1), 9, np.uint8)

    out2 = multimodal.extract_video_frames(
        df, every_n_frames=2, decoder=strideless, partitions=1
    ).collect()
    good = sorted((r["frame_idx"], r["mean_luma"]) for r in out2 if r["_decode_ok"])
    assert good == [(0, 7.0)] and all(r["n_frames"] == 2 for r in out2)


def test_semantic_contamination_ivf_vs_exact(spark):
    """IVF-pruned semantic contamination: full probe ≡ the exact
    all-pairs kernel (ids AND max-cosines); partial probe is a SUBSET
    with correct per-id cosines where found (precision 1.0 — every flag
    is an exact verify), and a lowered threshold shows the pruning
    actually bites (fewer pairs scored than the exact pass)."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    bench = emb.filter(F.col("vec_id") % 23 == 0)
    train = emb.filter(F.col("vec_id") % 23 != 0)
    # exact flags at a threshold low enough to flag something
    t = 0.30
    n = train.alias("t").crossJoin(bench.selectExpr("embedding AS bv").alias("b"))
    exact = (
        n.withColumn("cosine", similarity.cosine("embedding", "bv"))
        .filter(F.col("cosine") >= t)
        .groupBy("vec_id")
        .agg(F.max("cosine").alias("max_bench_cosine"))
    )
    exact_d = {r["vec_id"]: r["max_bench_cosine"] for r in exact.collect()}
    assert exact_d, "threshold too high to exercise the kernel"

    indexed = similarity.kmeans_ivf_index(train, n_cells=4, seed=7)
    full = similarity.semantic_contamination_ivf(
        indexed, bench, threshold=t, n_probe=4
    )
    full_d = {r["vec_id"]: r["max_bench_cosine"] for r in full.collect()}
    assert full_d == exact_d  # full probe degenerates to the exact scan

    part = similarity.semantic_contamination_ivf(
        indexed, bench, threshold=t, n_probe=1
    )
    part_d = {r["vec_id"]: r["max_bench_cosine"] for r in part.collect()}
    assert set(part_d) <= set(exact_d)  # precision 1.0
    for k, v in part_d.items():
        assert v <= exact_d[k] + 1e-12  # found max can only miss cells

    # frozen-quantizer seam (review r05): supplying the fit's own centers
    # must reproduce the full-probe result — the path a post-fit-batch
    # deployment is REQUIRED to use (assignment means drift per load)
    indexed2, centers = similarity.kmeans_ivf_index(
        train, n_cells=4, seed=7, return_centers=True
    )
    cent = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centers)], "cell int, center array<double>"
    )
    frozen = similarity.semantic_contamination_ivf(
        indexed2, bench, threshold=t, n_probe=4, centroids=cent
    )
    assert {r["vec_id"]: r["max_bench_cosine"] for r in frozen.collect()} == exact_d


def test_guard_bench_broadcast_contract(spark, monkeypatch):
    """The exact decontamination kernel's broadcast contract is
    mechanical (r10 verdict #3): under the limit the guard returns the
    bench count; an oversized bench raises naming the IVF escalation;
    and the CATALOG spelling x_semantic_decontaminate actually calls it
    — lowering the module limit below the fixture's mod-slice bench
    makes the catalog query itself refuse (the mod-slice grows with the
    corpus, which is exactly the misuse the guard exists to catch)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    bench = emb.filter(F.col("vec_id") % 23 == 0)
    n_bench = bench.count()
    assert similarity.guard_bench_broadcast(bench) == n_bench
    assert (
        similarity.guard_bench_broadcast(bench, limit_rows=n_bench)
        == n_bench
    )
    with _pytest.raises(ValueError, match="semantic_contamination_ivf"):
        similarity.guard_bench_broadcast(bench, limit_rows=n_bench - 1)

    from bi_gcp_stitch_repl_spark.queries.curation import (
        x_semantic_decontaminate,
    )

    monkeypatch.setattr(
        similarity, "BENCH_BROADCAST_ROW_LIMIT", n_bench - 1
    )
    with _pytest.raises(ValueError, match="semantic_contamination_ivf"):
        x_semantic_decontaminate(spark, SF_SMOKE).collect()
    monkeypatch.undo()
    # at the real limit the catalog query is untouched (hash-neutral)
    assert x_semantic_decontaminate(spark, SF_SMOKE).count() > 0


def test_ivf_topk_full_probe_equals_bruteforce(spark):
    """n_probe = all cells ⇒ IVF degenerates to the exact scan — results
    must equal brute force. (With these random embeddings the coarse cells
    carry no structure, so partial-probe recall is not assertable; the
    plumbing equivalence is.)"""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter("vec_id = 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    full = similarity.ivf_topk(emb, queries, k=5, n_probe=10)  # 10 labels = all
    got = [(r["vec_id"], r["rk"]) for r in full.collect()]
    qvec = emb.filter("vec_id = 5").collect()[0]["embedding"]
    expect = [r["vec_id"] for r in similarity.brute_force_topk(emb, qvec, k=5).collect()]
    assert [v for v, _ in sorted(got, key=lambda x: x[1])] == expect
    assert got[0][0] == 5 or expect[0] == 5  # self is the top hit


def test_ivf_topk_partial_probe_structure(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter("vec_id IN (5, 17)").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = similarity.ivf_topk(emb, queries, k=5, n_probe=1).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, hits in by_q.items():
        assert 1 <= len(hits) <= 5
        ranked = sorted(hits, key=lambda r: r["rk"])
        assert all(
            ranked[i]["cosine"] >= ranked[i + 1]["cosine"] for i in range(len(ranked) - 1)
        )


def test_kmeans_ivf_full_probe_equals_bruteforce(spark):
    """KMeans-fit IVF cells: probing every cell must reproduce the exact
    brute-force top-k; partial probe must return the self-hit (a query's own
    vector shares its cell by construction)."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    indexed = similarity.kmeans_ivf_index(emb, n_cells=8, seed=42)
    assert indexed.select("ivf_cell").distinct().count() <= 8
    queries = emb.filter("vec_id IN (0, 7)").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    full = similarity.ivf_topk(
        indexed, queries, k=5, n_probe=8, centroid_col="ivf_cell"
    ).collect()
    qvec = emb.filter("vec_id = 0").collect()[0]["embedding"]
    brute = similarity.brute_force_topk(emb, qvec, k=5).collect()
    got_q0 = sorted(
        (r["vec_id"] for r in full if r["query_id"] == 0 and r["rk"] <= 5)
    )
    assert got_q0 == sorted(r["vec_id"] for r in brute)
    partial = similarity.ivf_topk(
        indexed, queries, k=3, n_probe=1, centroid_col="ivf_cell"
    ).collect()
    for qid in (0, 7):
        hits = [r for r in partial if r["query_id"] == qid]
        assert hits and hits[0]["vec_id"] == qid  # self-hit at rank 1


@pytest.mark.slow
def test_embedding_near_dup_recall_and_precision(spark):
    """Banded-LSH near-dup pairs vs the exact all-pairs baseline: precision
    is 1.0 by construction (candidates are exact-verified); recall on the
    seeded hyperplanes is deterministic, assert it stays high."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    t = 0.45
    approx = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_dup(emb, threshold=t).collect()
    }
    norm = similarity.NORM.format(a="embedding")
    n = emb.selectExpr(
        "vec_id", "transform(embedding, x -> cast(x as double)) AS v", f"{norm} AS nrm"
    )
    a = n.selectExpr("vec_id AS id_a", "v AS va", "nrm AS na")
    b = n.selectExpr("vec_id AS id_b", "v AS vb", "nrm AS nb")
    dot = similarity.DOT.format(a="va", b="vb")
    exact = {
        (r["id_a"], r["id_b"])
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.expr(dot) / (F.col("na") * F.col("nb")))
        .filter(F.col("cosine") >= t)
        .select("id_a", "id_b")
        .collect()
    }
    assert approx <= exact  # exact verification ⇒ no false positives
    assert len(exact) > 0
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.8  # 16 bands × 2 bits at θ≤63°: expected ≈ 0.9998


def test_random_hyperplane_lsh_buckets(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    planes = similarity.random_hyperplanes(6, 64, seed=7)
    assert planes == similarity.random_hyperplanes(6, 64, seed=7)  # reproducible
    queries = emb.filter("vec_id IN (0, 3)").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = similarity.lsh_bucket_topk(emb, queries, k=3, planes=planes).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, hits in by_q.items():
        assert hits[0]["vec_id"] == qid  # self shares its own bucket, rank 1
    # random planes should spread the corpus over many buckets
    bucketed = emb.withColumn(
        "b", similarity.hyperplane_bucket_expr("embedding", planes)
    )
    n_buckets = bucketed.select("b").distinct().count()
    assert n_buckets > 16  # 2^6 = 64 possible; expect good spread


def test_approx_distinct_within_rsd(spark):
    """The catalog query now carries the error bound in-row (approx_ok =
    HLL estimate within 3×rsd of the in-query exact audit); every group
    must clear it, and the raw estimate must track a recomputed exact."""
    from bi_gcp_stitch_repl_spark.queries import catalog
    from bi_gcp_stitch_repl_spark.queries.catalog import tables

    df = catalog.queries()["x_approx_distinct"](spark, SF_SMOKE)
    rows = {r["event_type"]: r for r in df.collect()}
    (e,) = tables(spark, SF_SMOKE, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(rows) == set(exact)
    for r in rows.values():
        assert r["approx_ok"] is True
    approx = {
        r["event_type"]: r["approx_users"]
        for r in e.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"))
        .collect()
    }
    for et, n in exact.items():
        assert abs(approx[et] - n) <= max(3, 0.1 * n)


def test_incremental_lsh_equals_full_recompute(spark):
    """Splitting the corpus into loaded + new-batch and running the
    incremental path must find exactly the pairs the full recompute finds
    that involve at least one batch doc — and the appended index equals a
    fresh index over the union."""
    from bi_gcp_stitch_repl_spark.functions.dedup import (
        minhash_bands,
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
    )
    from bi_gcp_stitch_repl_spark.queries.catalog import tables

    (docs,) = tables(spark, SF_SMOKE, "documents")
    corpus = docs.filter("doc_id % 5 != 0")
    batch = docs.filter("doc_id % 5 = 0")
    corpus_bands = minhash_bands(corpus)
    pairs, batch_bands = minhash_lsh_pairs_incremental(corpus_bands, batch)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}

    full = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs).collect()
    }
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    expect = {p for p in full if p[0] in batch_ids or p[1] in batch_ids}
    assert got == expect and len(got) > 0

    merged = corpus_bands.unionByName(batch_bands)
    fresh = minhash_bands(docs)
    assert merged.exceptAll(fresh).isEmpty() and fresh.exceptAll(merged).isEmpty()


def test_span_dedup_removes_repeated_runs_keeps_first(spark):
    """The globally-first occurrence of a repeated segment survives; later
    occurrences vanish; unique segments are untouched; text reassembles in
    original segment order."""
    shared = " ".join(f"s{i}" for i in range(10))  # one full shared segment
    docs = spark.createDataFrame(
        [
            (1, shared + " " + " ".join(f"a{i}" for i in range(10))),
            (2, shared + " " + " ".join(f"b{i}" for i in range(10))),
            (3, " ".join(f"c{i}" for i in range(7))),  # short tail only
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.span_dedup(docs).collect()}
    assert (out[1]["n_segs"], out[1]["n_kept"]) == (2, 2)
    assert out[1]["cleaned_text"] == docs.collect()[0]["text"]
    # doc 2 lost the shared leading segment but kept its own tail
    assert (out[2]["n_segs"], out[2]["n_kept"]) == (2, 1)
    assert out[2]["cleaned_text"] == " ".join(f"b{i}" for i in range(10))
    # sub-span_words doc passes through as its single short segment
    assert (out[3]["n_segs"], out[3]["n_kept"]) == (1, 1)
    assert out[3]["cleaned_text"] == " ".join(f"c{i}" for i in range(7))


def test_vocab_encode_ranks_and_oov(spark):
    """Vocabulary ids are frequency ranks with token tiebreak; tokens
    outside the top-V encode as 0; sequence order is preserved."""
    docs = spark.createDataFrame(
        [(1, "b b b a a c"), (2, "a b rare")], "doc_id long, text string"
    )
    vocab = {r["token"]: r["token_id"] for r in text.build_vocab(docs, 2).collect()}
    assert vocab == {"b": 1, "a": 2}  # b:4 > a:3 > c/rare OOV
    out = {r["doc_id"]: r for r in text.encode_tokens(docs, text.build_vocab(docs, 2)).collect()}
    assert out[1]["token_ids"] == [1, 1, 1, 2, 2, 0]
    assert (out[2]["n_tokens"], out[2]["token_ids"]) == (3, [2, 1, 0])


def test_bm25_ranks_term_bearing_docs_first(spark):
    """Docs must score in (tf saturating, length-penalized) order; docs
    without any query term score exactly 0."""
    from bi_gcp_stitch_repl_spark.functions.text import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "join join join filter"),          # high tf, short
            (2, "join filter scan sort merge go"), # one hit, longer
            (3, "filter scan sort"),               # no hits
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["bm25"] for r in bm25_scores(docs, ["join"]).collect()}
    assert out[3] == 0.0
    assert out[1] > out[2] > out[3]


def test_kmeans_lloyd_separates_planted_blobs(spark):
    """Two well-separated blobs must come out as two pure clusters, and
    the assignment must be bit-stable across re-runs (determinism)."""
    from bi_gcp_stitch_repl_spark.functions.similarity import kmeans_lloyd

    rows = []
    for i in range(20):
        base = 0.0 if i % 2 == 0 else 10.0   # ids 0,2,.. blob A; 1,3,.. blob B
        rows.append((i, [base + 0.01 * i, base - 0.01 * i, base]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_lloyd(emb, k=2, n_iter=2)
    a = {r["vec_id"]: r["cluster"] for r in out.collect()}
    blob_a = {a[i] for i in range(0, 20, 2)}
    blob_b = {a[i] for i in range(1, 20, 2)}
    assert len(blob_a) == 1 and len(blob_b) == 1 and blob_a != blob_b
    assert a == {r["vec_id"]: r["cluster"] for r in out.collect()}


def test_winnowing_shared_substring_guarantee(spark):
    """The winnowing guarantee (MOSS): any shared substring of length
    >= w + k - 1 produces at least one SHARED fingerprint — here w=4, k=5
    so a 20-char common run must be detected; two documents with no
    shared 5-gram must share nothing."""
    from bi_gcp_stitch_repl_spark.functions.dedup import winnowing_fingerprints

    shared_run = "the quick brown fox jumps"  # 25 chars >> w+k-1 = 8
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + shared_run + " gamma delta"),
            (2, "zzzz qqqq " + shared_run + " wwww vvvv"),
            (3, "0123456789012345678901234567890123456789"),
        ],
        "doc_id long, text string",
    )
    fps = winnowing_fingerprints(docs, k=5, w=4)
    sets = {
        r["doc_id"]: set(x["fp"] for x in rows)
        for r in fps.select("doc_id").distinct().collect()
        for rows in [fps.filter(f"doc_id = {r['doc_id']}").collect()]
    }
    assert sets[1] & sets[2], "shared 25-char run must share a fingerprint"
    assert not (sets[1] & sets[3]) and not (sets[2] & sets[3])
    # density: far fewer fingerprints than grams
    n_grams = len(docs.filter("doc_id = 1").collect()[0]["text"]) - 4
    assert len(sets[1]) < n_grams


def test_bpe_train_matches_reference_implementation(spark):
    """Distributed BPE merge learning reproduces the classic sequential
    algorithm exactly: same merge sequence (count desc, pair-lexicographic
    tie-break) and same final tokenization, vs an independent pure-Python
    reference on the same corpus."""
    from collections import Counter

    from bi_gcp_stitch_repl_spark.functions.text import bpe_train

    texts = {
        1: "low lower lowest low low",
        2: "new newer newest new lower",
        3: "wide wider widest new low",
    }

    def ref_bpe(corpus, n_merges):
        seqs = {
            (d, i): list(w)
            for d, t in corpus.items()
            for i, w in enumerate(t.split())
        }
        merges = []
        for _ in range(n_merges):
            counts = Counter()
            for s in seqs.values():
                for x, y in zip(s, s[1:]):
                    counts[(x, y)] += 1
            if not counts:
                break
            best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            merges.append(best)
            for key, s in seqs.items():
                out, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and (s[i], s[i + 1]) == best:
                        out.append(s[i] + s[i + 1])
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                seqs[key] = out
        toks = {}
        for (d, i) in sorted(seqs):
            toks.setdefault(d, []).extend(seqs[(d, i)])
        return merges, toks

    docs = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    merges, encoded = bpe_train(docs, n_merges=6)
    want_merges, want_toks = ref_bpe(texts, 6)
    assert merges == want_merges
    got = {r["doc_id"]: list(r["tokens"]) for r in encoded.collect()}
    assert got == want_toks


def test_bpe_train_batched_learns_multiple_merges_per_pass(spark):
    """batch_size=k learns >1 merge per corpus pass (the 30k-merge scale
    path): every learned merge must be one the strict-greedy trajectory
    also learns on this corpus (symbol-disjoint pairs), the first pick of
    pass 1 is the true global argmax, and the final tokenization matches
    the batch_size=1 run exactly."""
    from bi_gcp_stitch_repl_spark.functions.text import bpe_train

    # four disjoint high-frequency pairs: no shared symbols, so batched
    # and strict-greedy trajectories provably coincide
    docs = spark.createDataFrame(
        [(1, "ab ab ab ab cd cd cd ef ef gh")], "doc_id long, text string"
    )
    seq_merges, seq_enc = bpe_train(docs, n_merges=4, batch_size=1)
    bat_merges, bat_enc = bpe_train(docs, n_merges=4, batch_size=4)
    assert len(bat_merges) == 4 and bat_merges[0] == ("a", "b")
    assert sorted(bat_merges) == sorted(seq_merges)
    assert bat_enc.collect() == seq_enc.collect()


def test_bpe_train_strips_nul_sentinel_collisions(spark):
    """An embedded U+0000 must not collide with the merge fold's
    'no pending' sentinel (ADVICE r03): NULs are stripped up front, so
    the corpus tokenizes as if they were absent."""
    from bi_gcp_stitch_repl_spark.functions.text import bpe_train

    dirty = spark.createDataFrame(
        [(1, "ab\x00 ab \x00ab ab")], "doc_id long, text string"
    )
    clean = spark.createDataFrame(
        [(1, "ab ab ab ab")], "doc_id long, text string"
    )
    dm, denc = bpe_train(dirty, n_merges=1)
    cm, cenc = bpe_train(clean, n_merges=1)
    assert dm == cm == [("a", "b")]
    assert denc.collect() == cenc.collect()


def test_ivf_topk_with_frozen_centroid_sidecar(spark, tmp_path):
    """Review-r04: queries over an incrementally-built IVF index must be
    able to probe with the FROZEN sidecar centroids (the geometry that
    assigned the vectors), not re-derived assignment means. Full probe
    with the sidecar must reproduce exact brute force."""
    from pyspark.sql import functions as F

    from bi_gcp_stitch_repl_spark.jobs import pipelines
    from bi_gcp_stitch_repl_spark.sinks.versioned import VersionedTable

    rows = [
        (i, [float((i * 7 + j * 3) % 11) / 11.0 for j in range(6)])
        for i in range(80)
    ]
    batch = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = str(tmp_path / "ann")
    pipelines.incremental_ann_ingest(spark, idx, batch, n_cells=4)
    index = VersionedTable(spark, idx).read()
    cents = VersionedTable(spark, idx + "_centroids").read()

    queries = index.filter("vec_id % 20 = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.ivf_topk(
        index, queries, k=5, n_probe=4,
        centroid_col="ivf_cell", centroids=cents,
    )
    brute = similarity.ivf_topk(  # degenerate single-cell = exact scan
        index.withColumn("one", F.lit(0)), queries, k=5, n_probe=1,
        centroid_col="one",
    )
    lhs = {(r["query_id"], r["rk"]): r["vec_id"] for r in got.collect()}
    rhs = {(r["query_id"], r["rk"]): r["vec_id"] for r in brute.collect()}
    assert lhs == rhs


def test_rrf_fuse_scores_and_missing_lists(spark):
    """RRF: items in both lists outscore same-rank single-list items; an
    item present in only one list still scores (missing term = 0); the
    fused score is exactly 1/(k+r_lex) + 1/(k+r_sem)."""
    lex = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id long, lex_rank int")
    sem = spark.createDataFrame([(2, 1), (4, 2)], "doc_id long, sem_rank int")
    out = {
        r["doc_id"]: r
        for r in similarity.rrf_fuse({"lex": lex, "sem": sem}, k=60).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert out[2]["rrf_score"] == 1.0 / 62 + 1.0 / 61
    assert out[1]["rrf_score"] == 1.0 / 61          # sem term absent -> 0
    assert out[4]["rrf_score"] == 1.0 / 62
    assert out[4]["lex_rank"] is None and out[4]["sem_rank"] == 2
    # both-lists item beats the best single-list item
    assert out[2]["rrf_score"] > out[1]["rrf_score"]


def test_rrf_fuse_single_list_and_empty_error(spark):
    lex = spark.createDataFrame([(7, 1)], "doc_id long, lex_rank int")
    row = similarity.rrf_fuse({"lex": lex}).collect()[0]
    assert row["doc_id"] == 7 and row["rrf_score"] == 1.0 / 61
    import pytest as _pytest

    with _pytest.raises(ValueError):
        similarity.rrf_fuse({})


def test_semdedup_keep_first_within_cluster_only(spark):
    """The SemDeDup survivorship rule, pinned on a hand-built frame: a
    vector drops iff an EARLIER-id vector in the SAME cluster sits at
    cosine >= threshold — near-identical vectors in different clusters
    must both survive (the method's known blind spot, not a bug), and
    anti-parallel vectors (cosine -1) never match."""
    from bi_gcp_stitch_repl_spark.functions.similarity import semdedup

    rows = [
        (1, 0, [1.0, 0.0]),
        (2, 0, [0.999, 0.01]),    # ~id1, same cluster  -> dropped
        (3, 1, [0.0, 1.0]),
        (4, 0, [-1.0, 0.0]),      # anti-parallel to id1 -> kept
        (5, 1, [0.01, 0.9999]),   # ~id3, same cluster  -> dropped
        (6, 1, [1.0, 0.0]),       # ~id1 but cluster 1  -> kept (blind spot)
    ]
    lab = spark.createDataFrame(
        rows, "vec_id long, cluster long, embedding array<double>"
    )
    out = {r["vec_id"]: r["kept"] for r in semdedup(lab, threshold=0.95).collect()}
    assert out == {1: True, 2: False, 3: True, 4: True, 5: False, 6: True}


def test_jl_projection_preserves_norms_on_average(spark):
    """The JL guarantee the x_jl_project catalog query is built on:
    E[projected/original squared-norm ratio] = 1 under the Achlioptas
    sparse matrix — the corpus mean must sit tight around 1, and no
    single 64→8 projection may collapse a vector to (near) zero."""
    from bi_gcp_stitch_repl_spark.queries.extensions import x_jl_project

    rows = x_jl_project(spark, "/root/testdata/sf0.01").collect()
    ratios = [r["norm_ratio"] for r in rows]
    mean = sum(ratios) / len(ratios)
    assert 0.9 < mean < 1.1, mean
    assert min(ratios) > 0.05, min(ratios)


def test_semdedup_handles_negative_hash_ids(spark):
    """Regression: the salt key must be pmod, not %, or hash-derived
    NEGATIVE ids salt into [-(salt-1)..0], never meet the probe side's
    0..salt-1, and their duplicate pairs are silently missed."""
    from bi_gcp_stitch_repl_spark.functions.similarity import semdedup

    lab = spark.createDataFrame(
        [(-7, 0, [1.0, 0.0]), (3, 0, [0.999, 0.01])],
        "vec_id long, cluster long, embedding array<double>",
    )
    out = {r["vec_id"]: r["kept"] for r in semdedup(lab, threshold=0.95).collect()}
    assert out == {-7: True, 3: False}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        semdedup(lab, threshold=0.95, salt=0)


def test_connected_components_mixed_width_ids_both_paths(spark, driver_rows):
    """Review r05: an (int, long) edge frame must take the same widened
    id type on the driver fast path as on the distributed path — the
    narrow-schema driver labeling crashed on a wide dst id."""
    from pyspark.sql import functions as F

    from bi_gcp_stitch_repl_spark.functions.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2**40), (2, 3)], "a int, b long"
    )
    small = connected_components(edges)  # driver path (2 edges)
    got = {r["node"]: r["component"] for r in small.collect()}
    assert got[2**40] == 1 and got[3] == 2
    big = driver_rows(0, lambda: connected_components(edges))  # distributed
    assert {r["node"]: r["component"] for r in big.collect()} == got


def test_token_stats_whitespace_separators_not_token_mass(spark):
    """ADVICE/verdict r05: avg_token_len must strip ALL whitespace (\\s),
    not just literal spaces — tab/newline-separated docs otherwise count
    their separators as token mass and trip quality_filter's
    max_avg_token_len gate."""
    docs = spark.createDataFrame(
        [(1, "aa\tbb\ncc dd"), (2, "aa bb cc dd")], "doc_id long, text string"
    )
    stats = {r["doc_id"]: r for r in text.token_stats(docs).collect()}
    assert stats[1]["n_tokens"] == 4
    assert stats[1]["avg_token_len"] == stats[2]["avg_token_len"] == 2.0


def _mp4ish_clip(frames):
    """Minimal ISO-BMFF container for the demuxer-seam test: an 'ftyp'
    box then one 'mdat' box holding length-prefixed raw RGB frame
    records. Box layout (32-bit big-endian size + fourcc) is the real
    MP4 framing; the payload codec is raw so the test needs no entropy
    decoder."""
    import struct

    def box(typ, payload):
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    recs = b""
    for a in frames:
        h, w, ch = a.shape
        recs += struct.pack(">HHB", h, w, ch) + a.tobytes()
    return box(b"ftyp", b"isom\x00\x00\x02\x00") + box(b"mdat", recs)


def _mp4_stub_demuxer(raw, every_n=1):
    """PyAV-adapter-shaped MP4 demuxer: walk the ISO-BMFF boxes, locate
    mdat, yield (H, W, C) uint8 frames; strided-out frames yield None
    after a pointer advance (no pixel copy) — the exact contract a real
    ``av.open(BytesIO(raw)).decode(video=0)`` adapter implements. Raises
    on non-MP4 input so sniffing/error-isolation applies."""
    import struct

    import numpy as np

    if raw[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF payload")
    pos, mdat = 0, None
    while pos + 8 <= len(raw):
        size, typ = struct.unpack(">I", raw[pos : pos + 4])[0], raw[pos + 4 : pos + 8]
        if typ == b"mdat":
            mdat = raw[pos + 8 : pos + size]
        pos += size
    if mdat is None:
        raise ValueError("no mdat box")
    i, idx = 0, 0
    while i + 5 <= len(mdat):
        h, w, ch = struct.unpack(">HHB", mdat[i : i + 5])
        i += 5
        if idx % every_n:
            yield None  # pointer advance only — no decode, no copy
        else:
            yield np.frombuffer(
                mdat[i : i + h * w * ch], np.uint8
            ).reshape(h, w, ch)
        i += h * w * ch
        idx += 1


def test_extract_video_frames_mp4_demuxer_seam(spark):
    """VERDICT r05 #7: the decoder= seam carries a real MP4-shaped demuxer
    (PyAV-adapter contract: ISO-BMFF box walk, stride pushdown via
    every_n, None-yield pointer advances) end to end — RGB frames, BT.601
    luma, full-clip n_frames, PNG payloads, and error isolation for a
    non-MP4 row, with no hard PyAV dependency (the stub IS the adapter
    when av is absent)."""
    import numpy as np

    from bi_gcp_stitch_repl_spark.functions import codecs, multimodal

    frames = [np.full((4, 6, 3), 40 * (f + 1), np.uint8) for f in range(4)]
    clip = _mp4ish_clip(frames)
    df = spark.createDataFrame(
        [(1, bytearray(clip)), (2, bytearray(b"RIFFnot-an-mp4"))],
        "media_id long, payload binary",
    )
    out = multimodal.extract_video_frames(
        df, every_n_frames=3, decoder=_mp4_stub_demuxer, partitions=2
    )
    by_id = {}
    for r in out.collect():
        by_id.setdefault(r["media_id"], []).append(r)
    good = sorted(by_id[1], key=lambda r: r["frame_idx"])
    assert [r["frame_idx"] for r in good] == [0, 3]
    assert all(r["n_frames"] == 4 for r in good)  # strided-out frames counted
    assert all((r["width"], r["height"]) == (6, 4) for r in good)
    # constant RGB frame: BT.601 luma == the channel constant
    assert [round(r["mean_luma"], 6) for r in good] == [40.0, 160.0]
    arr, mode = codecs.decode_png(bytes(good[1]["frame_png"]))
    assert mode == "RGB" and arr.shape == (4, 6, 3) and (arr == 160).all()
    # non-MP4 payload: one _decode_ok=false row, decode error isolated
    assert len(by_id[2]) == 1 and not by_id[2][0]["_decode_ok"]


def test_connected_components_labels_self_loop_only_nodes(spark):
    """A node appearing ONLY in self-loop edges must still come back as a
    singleton component instead of vanishing from the labeling."""
    from bi_gcp_stitch_repl_spark.functions import graph

    edges = spark.createDataFrame(
        [(1, 2), (5, 5)], "src long, dst long"
    )
    got = {r["node"]: r["component"] for r in graph.connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 5: 5}


# --- mmr_rerank ---------------------------------------------------------------


def _vecs_df(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )


def test_mmr_skips_near_duplicate_of_selected(spark):
    """The defining MMR property: pure top-k would take the near-duplicate
    of pick 1; MMR (lam=0.7) takes the diverse lower-relevance vector."""
    from bi_gcp_stitch_repl_spark.functions.rerank import mmr_rerank

    q = _vecs_df(spark, [(99, [1.0, 0.0])]).select("embedding")
    corpus = _vecs_df(
        spark,
        [
            (1, [1.0, 1.0]),    # rel 1/sqrt(2); wins pick 1 on id tie-break
            (2, [1.0, 1.0]),    # exact duplicate of 1 — equally relevant
            (3, [1.0, -1.0]),   # equally relevant, orthogonal to 1
        ],
    )
    out = mmr_rerank(corpus, q, k=2, pool=3).collect()
    picks = [r.vec_id for r in sorted(out, key=lambda r: r.rnk)]
    assert picks[0] == 1
    assert picks[1] == 3  # sim(2,1)=1 crushes the duplicate's mmr
    ranks = [r.rnk for r in out]
    assert sorted(ranks) == [1, 2]


def test_mmr_pool_smaller_than_k_and_zero_vectors_excluded(spark):
    from bi_gcp_stitch_repl_spark.functions.rerank import mmr_rerank

    q = _vecs_df(spark, [(99, [1.0, 0.0])]).select("embedding")
    corpus = _vecs_df(
        spark,
        [(1, [0.5, 0.1]), (2, [0.0, 0.0]), (3, [0.2, 0.9])],  # 2 is zero-norm
    )
    out = mmr_rerank(corpus, q, k=8, pool=24).collect()
    assert {r.vec_id for r in out} == {1, 3}  # zero vector never ranked
    assert len(out) == 2  # pool exhausted before k


def test_mmr_empty_corpus_returns_empty_with_schema(spark):
    from bi_gcp_stitch_repl_spark.functions.rerank import mmr_rerank

    q = _vecs_df(spark, [(99, [1.0, 0.0])]).select("embedding")
    corpus = _vecs_df(spark, []).filter("vec_id is not null")
    out = mmr_rerank(corpus, q, k=3, pool=8)
    assert out.columns == ["rnk", "vec_id", "rel", "mmr"]
    assert out.count() == 0


def test_mmr_parameter_validation(spark):
    from bi_gcp_stitch_repl_spark.functions.rerank import MAX_POOL, mmr_rerank

    q = _vecs_df(spark, [(99, [1.0, 0.0])]).select("embedding")
    corpus = _vecs_df(spark, [(1, [0.5, 0.1])])
    with pytest.raises(ValueError, match="MAX_POOL"):
        mmr_rerank(corpus, q, pool=MAX_POOL + 1)
    with pytest.raises(ValueError, match="k must be"):
        mmr_rerank(corpus, q, k=0)
    # multi-row query still raises — now via the single take(2) that also
    # collects the vector (the former dedicated limit(2).count() guard
    # job is gone)
    q2 = _vecs_df(spark, [(1, [1.0, 0.0]), (2, [0.0, 1.0])]).select("embedding")
    with pytest.raises(ValueError, match="exactly one row"):
        mmr_rerank(corpus, q2)


def test_mmr_query_literal_matches_old_broadcast_scores(spark):
    """The query vector is now embedded as a foldable literal instead of a
    crossJoin(broadcast(q)); relevance must be the bit-identical fold
    cosine (F.lit round-trips binary64 exactly)."""
    from bi_gcp_stitch_repl_spark.functions.rerank import mmr_rerank

    q = _vecs_df(spark, [(99, [0.1, 0.2, 0.7])]).select("embedding")
    corpus = _vecs_df(
        spark, [(1, [0.3, 0.1, 0.4]), (2, [0.9, 0.0, 0.1]), (3, [0.1, 0.2, 0.7])]
    )
    out = {r.vec_id: r.rel for r in mmr_rerank(corpus, q, k=3, pool=8).collect()}
    import math as _m

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (_m.sqrt(sum(x * x for x in a)) * _m.sqrt(sum(x * x for x in b)))

    assert out[3] == pytest.approx(1.0, abs=1e-12)
    assert out[1] == pytest.approx(cos([0.3, 0.1, 0.4], [0.1, 0.2, 0.7]), abs=1e-12)


def test_mmr_scored_nan_vector_rejected_at_boundary(spark):
    """A NaN-element vector survives the zero-norm filter (nullif(NaN,0.0)
    is non-null); with a finite pre-scored _rel its NaN pairwise sims
    must fail LOUDLY (Python max() over NaN is order-dependent and would
    silently diverge from the SQL twin)."""
    from bi_gcp_stitch_repl_spark.functions.rerank import mmr_rerank_scored

    scored = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0.9),
            (2, [float("nan"), 1.0], 0.8),
        ],
        "_id long, _v array<double>, _rel double",
    )
    with pytest.raises(ValueError, match="NULL/NaN pairwise"):
        mmr_rerank_scored(scored, k=2, pool=8).collect()


def test_mmr_python_fold_matches_engine_fold(spark):
    """The pairwise diversity cosines moved from an engine crossJoin to a
    driver-side Python replica of the SAME left fold. CPython floats are
    IEEE-754 binary64 and x*y / acc+v / sqrt are single correctly-rounded
    ops on both sides, so every sim must be BIT-identical (==, not
    approx) — including denormals, negative zeros, huge/tiny magnitude
    mixes, NULL elements and mixed dimensions (both NULL engine-side)."""
    import math as _m
    import random
    import struct

    from bi_gcp_stitch_repl_spark.functions.rerank import (
        _DOT,
        _NORM,
        _fold_dot_py,
        _fold_norm_py,
    )

    rng = random.Random(20261)

    def wild():
        # bit-pattern-random finite doubles: exercises denormals, extreme
        # exponents and -0.0, where reassociated/fma arithmetic would show
        while True:
            x = struct.unpack("<d", struct.pack("<Q", rng.getrandbits(64)))[0]
            if _m.isfinite(x) and abs(x) < 1e150:  # keep products finite
                return x

    vecs = [[wild() for _ in range(17)] for _ in range(12)]
    vecs.append([0.0] * 17)                      # zero norm -> NULL sim
    vecs.append([-0.0] * 17)                     # nullif(-0.0, 0.0) IS NULL
    vecs.append([wild() for _ in range(5)])      # mixed dim -> NULL sim
    vecs.append([1.0, None] + [2.0] * 15)        # NULL element -> NULL sim
    pairs = [
        (i, j, va, vb)
        for i, va in enumerate(vecs)
        for j, vb in enumerate(vecs)
        if i < j
    ]
    df = spark.createDataFrame(
        pairs, "i long, j long, _va array<double>, _vb array<double>"
    )
    pdot = _DOT.format(a="_va", b="_vb")
    pna = _NORM.format(a="_va")
    pnb = _NORM.format(a="_vb")
    engine = {
        (r.i, r.j): r.s
        for r in df.select(
            "i", "j",
            F.expr(f"{pdot} / nullif({pna} * {pnb}, 0.0d)").alias("s"),
        ).collect()
    }
    for i, j, va, vb in pairs:
        na, nb = _fold_norm_py(va), _fold_norm_py(vb)
        if na is None or nb is None or na * nb == 0.0:
            py = None
        else:
            d = _fold_dot_py(va, vb)
            py = None if d is None else d / (na * nb)
        e = engine[(i, j)]
        if e is None or py is None:
            assert e is None and py is None, (i, j, e, py)
        elif _m.isnan(e) or _m.isnan(py):
            assert _m.isnan(e) and _m.isnan(py), (i, j, e, py)
        else:
            assert struct.pack("<d", e) == struct.pack("<d", py), (i, j, e, py)


def test_mmr_rerank_scored_composes_with_rrf(spark):
    """Hybrid composition: RRF-fused relevance + cosine diversity. The
    fused score ranks id 2 above id 3 (2 appears in both lists), but 2 is
    an exact duplicate of pick 1, so MMR (lam=mu=0.5) promotes 3."""
    from bi_gcp_stitch_repl_spark.functions.rerank import mmr_rerank_scored
    from bi_gcp_stitch_repl_spark.functions.similarity import rrf_fuse

    lex = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "doc_id long, lex_rank long"
    )
    sem = spark.createDataFrame(
        [(1, 1), (2, 2)], "doc_id long, sem_rank long"
    )
    fused = rrf_fuse({"lex": lex, "sem": sem}, id_col="doc_id")
    emb = _vecs_df(
        spark, [(1, [1.0, 1.0]), (2, [1.0, 1.0]), (3, [1.0, -1.0])]
    ).withColumnRenamed("vec_id", "doc_id")
    scored = fused.join(emb, "doc_id").select(
        F.col("doc_id").alias("_id"),
        F.col("embedding").alias("_v"),
        F.col("rrf_score").alias("_rel"),
    )
    out = mmr_rerank_scored(scored, k=2, pool=8, lam=0.5, mu=0.5).collect()
    picks = [r.vec_id for r in sorted(out, key=lambda r: r.rnk)]
    assert picks == [1, 3]


def test_bpe_train_known_vocab_and_guards(spark, driver_rows):
    """The Sennrich textbook example shape: merges follow corpus pair
    mass with the (cnt DESC, a ASC, b ASC) tie-break; a run of identical
    symbols merges LEFT-TO-RIGHT non-overlapping ('aaaaa' contributes
    pairs (aa,aa,a) after rank-1, never the middle pair); early stop
    when no pair remains; guards on negative n_merges and non-positive
    frequencies; n_merges=0 is empty."""
    from bi_gcp_stitch_repl_spark.functions.bpe import bpe_train

    wf = spark.createDataFrame(
        [("low", 5), ("lower", 2), ("aaaaa", 3), ("newer", 6), ("x", 4)],
        "word string, freq long",
    )
    got = [tuple(r) for r in bpe_train(wf, 4).collect()]
    # pair mass: (a,a) 4*3=12; then (e,r)=8 TIES (w,e)=8 and the lex
    # tie-break picks ('e','r'); then (w,er)=8; then (l,o)=7
    assert got == [
        (1, "a", "a", "aa", 12),
        (2, "e", "r", "er", 8),
        (3, "w", "er", "wer", 8),
        (4, "l", "o", "lo", 7),
    ]
    # distributed loop bit-identical
    got_dist = [
        tuple(r) for r in driver_rows(0, lambda: bpe_train(wf, 4)).collect()
    ]
    assert got_dist == got
    # early stop: single-char words exhaust instantly
    tiny = spark.createDataFrame([("ab", 1)], "word string, freq long")
    assert bpe_train(tiny, 5).count() == 1  # one merge then no pairs
    assert bpe_train(wf, 0).count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_merges"):
        bpe_train(wf, -1)
    bad = spark.createDataFrame([("ab", 0)], "word string, freq long")
    with _pytest.raises(ValueError, match="positive"):
        bpe_train(bad, 1)


def test_word_frequencies_tokenizer_contract(spark):
    """word_frequencies shares tokens_expr (whitespace split, empties
    dropped, NO case folding — cross-engine lower() is locale-sensitive
    outside ASCII) and sums duplicate words across documents."""
    from bi_gcp_stitch_repl_spark.functions.bpe import word_frequencies

    docs = spark.createDataFrame(
        [(1, "  the\tQuick  the\n"), (2, "Quick the")],
        "doc_id long, text string",
    )
    out = {r.word: r.freq for r in word_frequencies(docs).collect()}
    assert out == {"the": 3, "Quick": 2}


def test_bpe_encode_segmentation_contract(spark):
    """Encoding applies merges in RANK order with the training fold, so
    (a) concat(tokens of a word) == word for every word (BPE segments,
    never rewrites), (b) a word the training corpus fully merged comes
    back as ONE token, (c) an unseen word degrades gracefully to
    partially-merged symbols, and (d) zero merges = character split."""
    from bi_gcp_stitch_repl_spark.functions.bpe import bpe_encode, bpe_train

    wf = spark.createDataFrame(
        [("low", 50), ("lower", 20), ("newest", 10), ("widest", 8)],
        "word string, freq long",
    )
    merges = bpe_train(wf, 6)
    docs = spark.createDataFrame(
        [(1, "low lower lowest"), (2, "unrelated")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bpe_encode(docs, merges).collect()}
    toks1 = out[1].tokens
    # segmentation invariant: rejoining reproduces the exact words
    rejoined, cur = [], ""
    words = "low lower lowest".split()
    wi = 0
    for t in toks1:
        cur += t
        if cur == words[wi]:
            rejoined.append(cur)
            cur, wi = "", wi + 1
    assert rejoined == words and cur == ""
    assert "low" in toks1  # the heaviest word fully merged
    assert out[1].n_tokens == len(toks1)
    assert "".join(out[2].tokens) == "unrelated"
    empty = bpe_train(wf, 0)
    chars = {
        r.doc_id: r.tokens
        for r in bpe_encode(docs, empty).collect()
    }
    assert chars[2] == list("unrelated")


def test_kmeans_lloyd_driver_path_matches_distributed(spark, driver_rows):
    """r11-opt: the kmeans_lloyd driver fast path (Python trajectory +
    VALUES assignment) must be bit-identical to the distributed plan —
    awkward doubles (negative zero, subnormals, exact ties broken by
    centroid id) included — and ineligible inputs (NULL/NaN elements,
    duplicate ids) must fall back to the distributed path unchanged."""
    from bi_gcp_stitch_repl_spark.functions.similarity import kmeans_lloyd

    rows = [
        (1, [0.0, 1.0]),
        (2, [-0.0, 1.0 + 2**-40]),
        (3, [40.0, 41.5]),
        (4, [40.0 + 2**-30, 41.5]),
        (5, [0.5, 21.25]),   # equidistant-ish; tie goes to smaller cid
        (6, [5e-324, 1.0]),  # subnormal
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    drv = sorted(map(tuple, kmeans_lloyd(emb, k=2, n_iter=3).collect()))
    dist = sorted(
        map(
            tuple,
            driver_rows(0, lambda: kmeans_lloyd(emb, k=2, n_iter=3)).collect(),
        )
    )
    assert drv == dist and len(drv) == 6
    # ineligible: NaN element -> distributed fallback, same rows
    bad = spark.createDataFrame(
        rows + [(7, [float("nan"), 0.0])],
        "vec_id long, embedding array<double>",
    )
    drv = sorted(map(tuple, kmeans_lloyd(bad, k=2, n_iter=2).collect()))
    dist = sorted(
        map(
            tuple,
            driver_rows(0, lambda: kmeans_lloyd(bad, k=2, n_iter=2)).collect(),
        )
    )
    assert drv == dist and len(drv) == 7
