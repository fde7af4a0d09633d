"""Unit tests for the beyond-reference relational ops: as-of join,
banded range join, connected components (catalog oracles cover the
end-to-end queries; these pin the generic operators' semantics on
hand-built and randomized inputs)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from bi_gcp_stitch_repl_spark.functions.graph import connected_components
from bi_gcp_stitch_repl_spark.ops.asof import asof_join
from bi_gcp_stitch_repl_spark.ops.rangejoin import band_join


# ---------------------------------------------------------------------------
# as-of join
# ---------------------------------------------------------------------------


def _asof_fixture(spark):
    quotes = spark.createDataFrame(
        [
            ("A", 10, 1, 100.0),
            ("A", 20, 2, 101.0),
            ("A", 20, 3, 102.0),  # same ts as id 2 — tiebreak decides
            ("A", 30, 4, 103.0),
            ("B", 15, 5, 200.0),
        ],
        "sym string, t long, qid long, px double",
    )
    trades = spark.createDataFrame(
        [
            ("A", 5, 100),   # before any quote
            ("A", 20, 101),  # ties quote ts 20
            ("A", 25, 102),
            ("B", 15, 103),  # exact tie with quote 5
            ("C", 50, 104),  # key with no quotes at all
        ],
        "sym string, t long, tid long",
    )
    return quotes, trades


def test_asof_join_inclusive(spark):
    quotes, trades = _asof_fixture(spark)
    out = asof_join(
        trades,
        quotes,
        on=["sym"],
        left_ts="t",
        right_ts="t",
        left_tiebreak="tid",
        right_tiebreak="qid",
        payload={"px": "px", "qid": "qid"},
    )
    got = {r["tid"]: (r["qid"], r["px"]) for r in out.collect()}
    assert got[100] == (None, None)          # nothing at or before t=5
    assert got[101] == (3, 102.0)            # inclusive: both t=20 quotes visible, latest tiebreak wins
    assert got[102] == (3, 102.0)
    assert got[103] == (5, 200.0)            # exact-tie quote matches inclusively
    assert got[104] == (None, None)          # key never quoted
    assert out.count() == trades.count()     # left-preserving


def test_asof_join_strict(spark):
    quotes, trades = _asof_fixture(spark)
    out = asof_join(
        trades,
        quotes,
        on=["sym"],
        left_ts="t",
        right_ts="t",
        left_tiebreak="tid",
        right_tiebreak="qid",
        strict=True,
        payload={"qid": "qid"},
    )
    got = {r["tid"]: r["qid"] for r in out.collect()}
    # strict compares (t, tiebreak) lexicographically: at t=20 the trade
    # tiebreak 101 is far above both quote ids, so both t=20 quotes still
    # precede it; at (15, 103) quote (15, 5) precedes likewise.
    assert got[101] == 3
    assert got[103] == 5
    assert got[100] is None


def test_asof_join_strict_excludes_self_timestamp_tie(spark):
    # right rows that tie the left row's (ts, tiebreak) exactly are excluded
    # under strict — the semantics that let a table as-of-join against itself
    # without self-matching.
    events = spark.createDataFrame(
        [(1, 10, 7, 1.0), (1, 10, 9, 2.0)], "k long, t long, id long, v double"
    )
    out = asof_join(
        events,
        events.select("k", "t", "id", F.col("v").alias("rv")),
        on=["k"],
        left_ts="t",
        right_ts="t",
        left_tiebreak="id",
        right_tiebreak="id",
        strict=True,
        payload={"prev_v": "rv"},
    )
    got = {r["id"]: r["prev_v"] for r in out.collect()}
    assert got[7] is None      # nothing strictly before (10, 7)
    assert got[9] == 1.0       # (10, 7) strictly precedes (10, 9)


# ---------------------------------------------------------------------------
# band join
# ---------------------------------------------------------------------------


def test_band_join_matches_naive(spark):
    rng = random.Random(7)
    lrows = [(i, rng.randrange(0, 1000)) for i in range(120)]
    rrows = [(i + 1000, rng.randrange(0, 1000)) for i in range(150)]
    tol = 37
    left = spark.createDataFrame(lrows, "l_id long, l_k long")
    right = spark.createDataFrame(rrows, "r_id long, r_k long")
    got = {
        (r["l_id"], r["r_id"])
        for r in band_join(left, right, "l_k", "r_k", tol).collect()
    }
    want = {
        (li, ri)
        for li, lk in lrows
        for ri, rk in rrows
        if abs(lk - rk) <= tol
    }
    assert got == want


def test_band_join_no_duplicate_pairs(spark):
    left = spark.createDataFrame([(1, 100)], "l_id long, l_k long")
    right = spark.createDataFrame([(2, 100)], "r_id long, r_k long")
    out = band_join(left, right, "l_k", "r_k", 50)
    assert out.count() == 1  # exact-bucket match emitted exactly once


# ---------------------------------------------------------------------------
# connected components
# ---------------------------------------------------------------------------


def _uf_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min member id
    label = {}
    for n in nodes:
        r = find(n)
        label.setdefault(r, []).append(n)
    return {n: min(members) for r, members in label.items() for n in members}


@pytest.mark.parametrize("seed,n_nodes,n_edges", [(1, 40, 25), (2, 80, 100), (3, 60, 12)])
def test_connected_components_random_graphs(spark, seed, n_nodes, n_edges):
    rng = random.Random(seed)
    nodes = list(range(n_nodes))
    edges = [
        (rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)
    ]
    edges_df = spark.createDataFrame(edges, "src long, dst long")
    nodes_df = spark.createDataFrame([(n,) for n in nodes], "node long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges_df, nodes=nodes_df).collect()
    }
    assert got == _uf_components(edges, nodes)


def test_connected_components_long_chain(spark):
    # a 64-node path is the worst case for min-label propagation (64 rounds);
    # star contraction must close it well inside max_iter=30 (O(log n))
    edges = [(i, i + 1) for i in range(63)]
    edges_df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["component"] for r in connected_components(edges_df).collect()
    }
    assert set(got) == set(range(64))
    assert set(got.values()) == {0}


def test_connected_components_rejects_nonpositive_max_iter(spark, driver_rows):
    """max_iter <= 0 must fail loudly up front (ADVICE r04): with zero
    star rounds the post-loop labeling would run on raw edges and emit
    split components while the non-convergence guard stays silent."""
    import pytest

    # DRIVER_ROWS = 0 so the distributed loop (the buggy path) runs
    edges_df = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="max_iter"):
        driver_rows(0, lambda: connected_components(edges_df, max_iter=0))


def test_connected_components_no_edges(spark):
    edges_df = spark.createDataFrame([], "src long, dst long")
    nodes_df = spark.createDataFrame([(i,) for i in range(5)], "node long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges_df, nodes=nodes_df).collect()
    }
    assert got == {i: i for i in range(5)}


def test_scd2_intervals_agree_with_asof_join(spark):
    """Cross-operator invariant: SCD2 materialization and the as-of join
    are the two halves of one point-in-time story — for any probe instant,
    the interval containing the probe must name exactly the event the
    as-of join attaches. Probes sit 1 µs after each event so no probe ties
    an event timestamp (tie semantics differ by design: inclusive as-of vs
    half-open intervals)."""
    from pyspark.sql import functions as F

    from bi_gcp_stitch_repl_spark.ops.asof import asof_join
    from bi_gcp_stitch_repl_spark.queries import catalog
    from tests.conftest import SF_SMOKE

    (e,) = catalog.tables(spark, SF_SMOKE, "events")
    scd2 = catalog.queries()["x_scd2_intervals"](spark, SF_SMOKE)

    probes = e.filter("event_id % 7 = 0").select(
        "user_id",
        F.col("event_id").alias("probe_id"),
        (F.col("ts") + F.expr("INTERVAL 1 MICROSECOND")).alias("probe_ts"),
    )
    states = e.select(
        "user_id", "ts", "event_id", F.col("event_type").alias("status")
    )
    via_asof = asof_join(
        probes,
        states,
        on=["user_id"],
        left_ts="probe_ts",
        right_ts="ts",
        payload={"asof_status": "status", "asof_event": "event_id"},
        right_tiebreak="event_id",
    ).select("user_id", "probe_id", "probe_ts", "asof_status", "asof_event")

    via_interval = (
        probes.join(scd2, "user_id")
        .filter(
            (F.col("valid_from") <= F.col("probe_ts"))
            & (F.col("valid_to").isNull() | (F.col("probe_ts") < F.col("valid_to")))
        )
        .select(
            "user_id",
            "probe_id",
            F.col("status").alias("int_status"),
            F.col("event_id").alias("int_event"),
        )
    )

    n_probes = probes.count()
    assert via_interval.count() == n_probes  # every probe has exactly one interval
    joined = via_asof.join(via_interval, ["user_id", "probe_id"])
    assert joined.count() == n_probes
    mismatches = joined.filter(
        (F.col("asof_event") != F.col("int_event"))
        | (F.col("asof_status") != F.col("int_status"))
    )
    assert mismatches.count() == 0, mismatches.take(5)


@pytest.mark.parametrize("seed,n_nodes,n_edges", [(5, 50, 40), (6, 30, 60)])
def test_connected_components_paths_agree(spark, driver_rows, seed, n_nodes, n_edges):
    """The driver union-find fast path and the distributed star algorithm
    (forced by setting DRIVER_ROWS to 0) produce identical labelings."""
    rng = random.Random(seed)
    edges = [
        (rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)
    ]
    edges_df = spark.createDataFrame(edges, "src long, dst long")
    nodes_df = spark.createDataFrame(
        [(n,) for n in range(n_nodes)], "node long"
    )
    fast = {
        r["node"]: r["component"]
        for r in connected_components(edges_df, nodes=nodes_df).collect()
    }
    dist = {
        r["node"]: r["component"]
        for r in driver_rows(
            0, lambda: connected_components(edges_df, nodes=nodes_df)
        ).collect()
    }
    assert fast == dist == _uf_components(edges, list(range(n_nodes)))


def test_minhash_lsh_short_docs_are_not_candidates(spark, duck):
    """A <5-char document has no 5-gram shingles, so it must never appear
    in a candidate pair. Unguarded, the signature fold's init sentinel
    gave every short doc the SAME band signature (m short docs → ~m²/2
    bogus pairs) while the oracle's list_min([]) produced NULL and zero
    pairs — a hard cross-engine divergence this pins closed."""
    from bi_gcp_stitch_repl_spark.queries.extensions import _minhash_candidates

    docs = spark.createDataFrame(
        [
            (1, "ab"),
            (2, "xy"),
            (3, ""),
            (4, "the same long document body shared verbatim by two rows"),
            (5, "the same long document body shared verbatim by two rows"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.doc_a, r.doc_b) for r in _minhash_candidates(docs).collect()}
    assert pairs == {(4, 5)}  # true dup found; no short-doc pair emitted
