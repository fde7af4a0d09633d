"""Z-order clustering: the rewrite must preserve data exactly, and the
file-level min/max footer stats must actually prune on EVERY clustered
column — measured directly from the parquet footers, the same stats a
100 TB scan's file skipping reads."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq

from bi_gcp_stitch_repl_spark.ops.layout import zorder_layout
from bi_gcp_stitch_repl_spark.sinks.merge import ParquetTable

from .conftest import SF_SMOKE

N_FILES = 16


def _files_overlapping(path: str, col: str, lo: float, hi: float) -> tuple[int, int]:
    """(files whose [min,max] for ``col`` overlaps [lo,hi], total files) —
    exactly the skipping decision a stats-based scan makes per file."""
    hit, total = 0, 0
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    mins.append(c.statistics.min)
                    maxs.append(c.statistics.max)
        assert mins, f"no stats for {col} in {f}"
        total += 1
        if min(mins) <= hi and max(maxs) >= lo:
            hit += 1
    return hit, total


def test_zorder_prunes_on_both_columns(spark, tmp_path):
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    n = li.count()

    # Baseline: the classic single-column layout (range-sorted by orderkey).
    linear = str(tmp_path / "linear")
    li.repartitionByRange(N_FILES, "l_orderkey").sortWithinPartitions(
        "l_orderkey"
    ).write.parquet(linear)
    # Z-ordered on (orderkey, partkey).
    zpath = str(tmp_path / "zorder")
    zorder_layout(li, ["l_orderkey", "l_partkey"], N_FILES).write.parquet(zpath)

    z = spark.read.parquet(zpath)
    assert z.count() == n
    assert li.exceptAll(z).isEmpty() and z.exceptAll(li).isEmpty()

    # A narrow partkey band: the orderkey-sorted layout cannot skip anything
    # (partkey is uniform within every file); the z-ordered one must.
    pk_lo, pk_hi = 10, 30
    lin_hit, lin_total = _files_overlapping(linear, "l_partkey", pk_lo, pk_hi)
    z_hit, z_total = _files_overlapping(zpath, "l_partkey", pk_lo, pk_hi)
    assert lin_total == N_FILES and z_total == N_FILES
    assert lin_hit == N_FILES  # no pruning without the curve
    assert z_hit <= N_FILES // 2, (z_hit, N_FILES)

    # And the curve still prunes on the leading column too.
    ok_lo, ok_hi = 1, 100
    z_ok_hit, _ = _files_overlapping(zpath, "l_orderkey", ok_lo, ok_hi)
    assert z_ok_hit <= N_FILES // 2, z_ok_hit


def test_compact_zorder_roundtrip(spark, tmp_path):
    path = str(tmp_path / "tbl")
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    t = ParquetTable(spark, path)
    t.overwrite(li)
    n = t.compact(target_partitions=8, zorder_by=["l_orderkey", "l_partkey"])
    assert n == li.count()
    assert t.read().count() == n
    hit, total = _files_overlapping(path, "l_partkey", 10, 30)
    assert total == 8 and hit < total


def test_driver_window_covers_survey_gates():
    """The external correctness driver checks only the FIRST 50 registered
    queries; this pins the round-12 window (catalog._PRIORITY): §2 spine
    (flagship), the changed-library canaries, the r11 cohort minus seven
    released r11-fresh members (libraries untouched this round — the
    w_topk_per_group precedent), and the SEVEN re-oracled graph-family
    twins (r11 verdict #3): their library operators gained driver fast
    paths in the r11 optimization session AFTER the twins rotated out of
    the window, so the driver must re-oracle them now; three changed
    sink/source canaries replace three more released r11-cohort members,
    and two changed ops canaries replace two more; four changed-library
    canaries replace four graph twins that r12 re-oracled; the text.py
    canary x_token_count replaces x_winnowing_pairs.
    It additionally proves the coverage-closure invariant: the union of the prior
    rounds' driver windows and this window is the ENTIRE catalog."""
    import json
    import os

    from bi_gcp_stitch_repl_spark.queries import catalog

    first50 = list(catalog.queries())[:50]
    assert len(catalog._PRIORITY) == 50
    assert first50 == catalog._PRIORITY
    required = {
        # §2 spine
        "flagship_union_history",
        # changed-library canaries: graph.py (r12 dispatch/NULL-weight
        # fixes), rerank.py, web.py trio
        "x_html_extract", "x_url_canonicalize", "x_robots_exclusion",
        "x_dedup_clusters", "x_clustering_trade", "x_mmr_rerank",
        # r11 cohort minus the seven released members (x_bigram_stats,
        # x_bm25_topk, x_ccnet_buckets, x_jl_project, x_lang_id,
        # x_lm_likelihood, x_quality_score — each r11-fresh, library
        # untouched this round)
        "w_topk_per_group", "x_bloom_decontaminate",
        "x_curation_pipeline",
        "x_decontaminate", "x_dedup_embedding_pairs",
        "x_dedup_near_survivors", "x_dedup_normalized", "x_dsir_weights",
        "x_embedding_quantize", "x_feature_hash_embed", "x_fingerprint",
        "x_gopher_rules", "x_ivf_topk",
        "x_knn_cosine_topk",
        "x_minhash_lsh_candidates",
        "x_multimodal_meta", "x_semantic_decontaminate",
        "x_semdedup", "x_simhash", "x_simhash_pairs",
        "x_sparse_cosine_pairs", "x_token_budget_plan", "x_vocab_encode",
        "x_winnowing_fingerprints",
        # r11 new-query cohort (keeps slots)
        "x_communities_trade", "x_bpe_merges", "x_modularity_trade",
        "x_bpe_encode", "x_image_dhash_near_dups", "x_random_walks_trade",
        # three of the seven re-oracled graph-family twins (r11 verdict
        # #3); x_bfs_trade, x_kcore_trade, x_hits_trade and x_ppr_trade
        # were released once r12 re-oracled them
        "x_sssp_trade", "x_pagerank_trade", "x_triangle_trade",
        # changed sink/source canaries (sinks/versioned.py,
        # sources/rest.py), seated in place of x_split_shard,
        # x_stratified_sample and x_string_agg
        "k1_merge_upsert", "s4_keyset_increment", "s7_detail_fanout",
        # changed ops canaries (ops/normalize.py, ops/clean.py), seated in
        # place of x_mixture_sample and x_weighted_sample
        "n_nested_battery", "f_string_clean_coerce",
        # changed-library canaries after the test-only deletions
        # (functions/codecs.py, functions/dedup.py, sources/warehouse.py),
        # seated in place of the four released graph twins
        "x_image_roundtrip_meta", "x_video_frames_roundtrip",
        "x_dedup_exact", "s9_sql_scan",
        # changed text.py canary, seated in place of x_winnowing_pairs
        "x_token_count",
    }
    assert len(required) == 50
    missing = required - set(first50)
    assert not missing, f"window entries fell out of the driver's 50: {missing}"

    # coverage closure: every registered query has (or gets this round) a
    # hard driver row — guarded so the test stays hermetic if the
    # CORRECTNESS artifacts aren't present
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    seen = set(first50)
    for r in range(1, 21):
        path = os.path.join(repo, f"CORRECTNESS_r{r:02d}.json")
        if os.path.exists(path):
            with open(path) as f:
                seen |= set(json.load(f))
    if len(seen) > 50:  # artifacts were present
        never = [n for n in catalog.queries() if n not in seen]
        assert not never, f"queries with no driver row in any round: {never}"

    # staleness closure: with this window counted as fresh, no catalog
    # entry's freshest driver row predates r08 (tightened from r07 this
    # round: the whole 37-entry r07 cohort holds slots above)
    freshest: dict[str, int] = {}
    for r in range(1, 21):
        path = os.path.join(repo, f"CORRECTNESS_r{r:02d}.json")
        if os.path.exists(path):
            with open(path) as f:
                for name in json.load(f):
                    freshest[name] = r
    if freshest:
        stale = [
            n
            for n in catalog.queries()
            if freshest.get(n, 0) < 8 and n not in set(first50)
        ]
        assert not stale, f"pre-r08 rows left out of the window: {stale}"


def test_spread_narrow_only_touches_narrow_scans(spark):
    """catalog.spread_narrow: a 1-partition frame is spread to session
    parallelism; a frame at/above the 1/8-of-parallelism trigger is
    returned UNCHANGED (no extra exchange on wide production inputs)."""
    from bi_gcp_stitch_repl_spark.queries.catalog import spread_narrow

    par = spark.sparkContext.defaultParallelism
    narrow = spark.range(100).coalesce(1)
    spread = spread_narrow(narrow.selectExpr("id", "id * 2 AS v"), "id")
    assert spread.rdd.getNumPartitions() == par
    assert spread.count() == 100
    wide_n = max(2, par // 8)
    wide = spark.range(100).repartition(wide_n)
    assert spread_narrow(wide) is wide  # untouched, not just same count


def test_changed_queries_hold_window_slots():
    """Window-staleness policy as code (r04 verdict #8): every catalog
    query whose implementation changed since the last window rotation —
    and every changed shared library module's canary queries — must hold
    a slot in the driver's first-50 window. Rotating = editing
    catalog._PRIORITY and regenerating tests/window_snapshot.json in the
    same commit (tools/update_window_snapshot.py)."""
    from tests import window_policy

    from bi_gcp_stitch_repl_spark.queries import catalog

    assert window_policy.load_snapshot() is not None, (
        "tests/window_snapshot.json missing — run "
        "tools/update_window_snapshot.py"
    )
    first50 = set(list(catalog.queries())[:50])
    changed_q, changed_libs = window_policy.changed_since_snapshot()
    stale = sorted(changed_q - first50)
    assert not stale, (
        f"queries changed since the window rotation but hold no driver-"
        f"window slot: {stale} — add them to catalog._PRIORITY and rerun "
        f"tools/update_window_snapshot.py"
    )
    lib_missing = {
        lib: sorted(set(window_policy.LIB_CANARIES[lib]) - first50)
        for lib in changed_libs
        if set(window_policy.LIB_CANARIES[lib]) - first50
    }
    assert not lib_missing, (
        f"library modules changed since the window rotation but their "
        f"canary queries hold no window slot: {lib_missing}"
    )
    # every canary name must exist (guards against catalog renames
    # silently voiding the policy)
    all_names = set(catalog.queries())
    unknown = {
        lib: [n for n in names if n not in all_names]
        for lib, names in window_policy.LIB_CANARIES.items()
        if any(n not in all_names for n in names)
    }
    assert not unknown, f"LIB_CANARIES names not in the catalog: {unknown}"


#: Package defs that no catalog query, pipeline, manifest entry, example or
#: benchmark reaches, kept on purpose — ``module::name`` → reason.
_API = "library API whose catalog twin spells the operator inline (COVERAGE.md)"
_STREAM = "Structured Streaming extension started from a user's driver (SURVEY §2.10)"
_STUB = "injectable stub for hermetic multimodal plumbing tests"
KEPT_UNREACHED: dict[str, str] = {
    "ops/history.py::latest_per_key": _API + "; w_latest_per_key",
    "ops/normalize.py::pad_columns": "P8 schema padding (COVERAGE.md)",
    "ops/skew.py::salted_join":
        "the skew remedy beside AQE skew-join (COVERAGE.md)",
    "sources/http_transport.py::BearerTokenAuth":
        "static bearer auth for the non-billwerk APIs (COVERAGE S12)",
    "sources/warehouse.py::Warehouse":
        "S8/S9 warehouse reads; s9_sql_scan is the catalog twin",
    "sources/files.py::ingest_documents_jsonl":
        "batch corpus ingest; streaming.ingest is its exactly-once twin",
    "functions/dedup.py::exact_dedup": _API + "; x_dedup_exact",
    "functions/dedup.py::minhash_lsh_pairs":
        "the reference minhash_lsh_pairs_incremental is tested against",
    "functions/dedup.py::jaccard_pairs": _API + "; x_jaccard_ngram_pairs",
    "functions/dedup.py::simhash_fingerprints": _API + "; x_simhash (32-bit)",
    "functions/dedup.py::winnowing_fingerprints":
        _API + "; x_winnowing_fingerprints",
    "functions/codecs.py::decode_y4m":
        "the decoder the Y4M round-trip tests check encode_y4m with",
    "functions/text.py::lang_scores": _API + "; x_lang_id",
    "functions/multimodal.py::_stub_image_decoder": _STUB,
    "functions/multimodal.py::_stub_image_resizer": _STUB,
    "functions/multimodal.py::_stub_audio_features": _STUB,
    "functions/multimodal.py::resize_images":
        "image resample stage of the multimodal surface (COVERAGE.md)",
    "functions/graph.py::pagerank":
        "float PageRank; pagerank_fixedpoint is the hash-pinnable twin",
    "functions/graph.py::walk_skipgrams":
        "DuckDB-pinned skip-gram step; catalog registration pending",
    "functions/curation.py::pack_first_fit":
        "hard-budget variant of pack_sequences (COVERAGE.md)",
    "functions/similarity.py::embedding_near_dup":
        _API + "; x_dedup_embedding_pairs",
    "functions/similarity.py::lsh_bucket_topk": _API + "; x_lsh_cosine_buckets",
    **{
        f"streaming/jobs.py::{name}": _STREAM
        for name in (
            "events_stream", "tumbling_counts", "session_counts",
            "running_user_totals", "user_ledger_tws",
            "incremental_merge_stream", "versioned_append_stream",
            "dedup_stream", "click_attribution_stream",
            "scd2_dimension_stream", "near_dedup_stream",
            "web_corpus_stream",
        )
    },
}


def test_driver_path_seam_is_single():
    """``functions/dispatch.py`` is the one place that sizes and emits a
    driver-local path. No other package def declares a
    ``driver_threshold`` parameter, spells a size probe
    ``.limit(<n> + 1).collect()``, or emits rows as a one-slice
    ``parallelize(<rows>, 1)``: those go through ``dispatch.DRIVER_ROWS``,
    ``probe_rows`` / ``driver_path`` and ``local_df``. AST only."""
    import ast

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "bi_gcp_stitch_repl_spark")
    seam = os.path.join(pkg, "functions", "dispatch.py")

    def is_call(node, attr):
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == attr
        )

    found = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        if path == seam:
            continue
        with open(path) as f:
            tree = ast.parse(f.read())
        rel = os.path.relpath(path, pkg)
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                a = node.args
                names = a.posonlyargs + a.args + a.kwonlyargs
                if any(x.arg == "driver_threshold" for x in names):
                    found.append(f"{rel}:{node.lineno} driver_threshold parameter")
            if (
                is_call(node, "collect")
                and is_call(node.func.value, "limit")
                and len(node.func.value.args) == 1
                and isinstance(node.func.value.args[0], ast.BinOp)
                and isinstance(node.func.value.args[0].op, ast.Add)
                and isinstance(node.func.value.args[0].right, ast.Constant)
                and node.func.value.args[0].right.value == 1
            ):
                found.append(f"{rel}:{node.lineno} .limit(n + 1).collect() probe")
            if (
                is_call(node, "parallelize")
                and len(node.args) == 2
                and isinstance(node.args[1], ast.Constant)
                and node.args[1].value == 1
            ):
                found.append(f"{rel}:{node.lineno} one-slice parallelize emit")
    assert not found, f"driver-path code outside functions/dispatch.py: {found}"


def test_package_defs_reached_outside_tests():
    """Every top-level def in the package is reachable from the package's
    entry points: the catalog (``@register``), module-level code, or a
    reference from ``examples/`` (``*.py`` and the ``module:function``
    strings of ``*.json`` configs), ``perfbench/``, ``bench.py`` or
    ``__spark_entry__.py`` — directly or through the body of a def that
    is itself reachable. ``tests/`` and ``tools/`` do not count, so code
    that only a test calls fails here unless ``KEPT_UNREACHED`` lists it
    with its reason.

    AST only, no Spark session. A reference is a name, an attribute, an
    import outside ``__init__.py``, a string equal to a def's name (the
    ``JobSpec.pipeline`` names ``jobs.__main__`` resolves with
    ``getattr``) or a ``module:name`` string. ``__all__`` lists,
    ``__init__`` re-exports and a def's references to itself are not."""
    import ast
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "bi_gcp_stitch_repl_spark")
    module_ref = re.compile(r"\b[\w.]+:(\w+)\b")
    sources = glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)
    for d in ("examples", "perfbench"):
        sources += glob.glob(os.path.join(repo, d, "**", "*.py"), recursive=True)
    sources += [os.path.join(repo, f) for f in ("bench.py", "__spark_entry__.py")]

    by_name: dict[str, set[str]] = {}  # def name -> "module::name" keys
    uses: dict[str, set[str]] = {}  # def key -> names its body references
    roots: set[str] = set()  # names referenced outside every package def
    registered: set[str] = set()
    for path in sources:
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        spans = []
        if path.startswith(pkg + os.sep):
            mod = os.path.relpath(path, pkg).replace(os.sep, "/")
            for node in tree.body:
                if not isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                    continue
                key = f"{mod}::{node.name}"
                lo = min([node.lineno] + [d.lineno for d in node.decorator_list])
                spans.append((lo, node.end_lineno, key, node.name))
                by_name.setdefault(node.name, set()).add(key)
                uses[key] = set()
                if any(
                    isinstance(d, ast.Call) and getattr(d.func, "id", "") == "register"
                    for d in node.decorator_list
                ):
                    registered.add(key)
        exports = {
            id(n)
            for stmt in tree.body
            if isinstance(stmt, ast.Assign)
            and any(getattr(t, "id", "") == "__all__" for t in stmt.targets)
            for n in ast.walk(stmt)
        }
        is_init = os.path.basename(path) == "__init__.py"
        for node in ast.walk(tree):
            if id(node) in exports:
                continue
            if isinstance(node, ast.Name):
                names = [node.id]
            elif isinstance(node, ast.Attribute):
                names = [node.attr]
            elif isinstance(node, ast.ImportFrom) and not is_init:
                names = [a.name for a in node.names]
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                names = [node.value, *module_ref.findall(node.value)]
            else:
                continue
            owner = next(
                (s for s in spans if s[0] <= node.lineno <= s[1]), None
            )
            if owner is None:
                roots.update(names)
            else:
                uses[owner[2]].update(n for n in names if n != owner[3])
    for path in glob.glob(os.path.join(repo, "examples", "*.json")):
        with open(path) as f:
            roots.update(module_ref.findall(f.read()))

    def reach(seeds: set[str]) -> set[str]:
        seen, todo = set(), list(seeds)
        while todo:
            key = todo.pop()
            if key not in seen:
                seen.add(key)
                todo += [k for n in uses[key] for k in by_name.get(n, ())]
        return seen

    base = registered | {k for n in roots for k in by_name.get(n, ())}
    checked = {k for k in uses if not k.split("::")[1].startswith("__")}
    flagged = sorted(checked - reach(base | (set(KEPT_UNREACHED) & set(uses))))
    assert not flagged, (
        "package defs reached only from tests/ or tools/ — wire them in, "
        f"delete them, or list them in KEPT_UNREACHED with a reason: {flagged}"
    )
    # the exception list must not rot: every entry is a def that exists
    # and would be unreached without its entry
    stale = sorted(set(KEPT_UNREACHED) - (checked - reach(base)))
    assert not stale, f"KEPT_UNREACHED entries that are gone or now reached: {stale}"
