"""Driver-window staleness policy, as code (round-4 verdict #8).

The external correctness driver hard-verifies only the FIRST 50 registered
catalog queries each round. The builder's policy is: any query whose
implementation changed since the last window rotation must hold a window
slot, so its driver row is never stale against its current semantics.
Round 4 broke that policy by hand (two curation queries changed but kept
r03 rows); this module makes the breakage a test failure instead of a
verdict finding.

Mechanism: ``tests/window_snapshot.json`` records, at rotation time,
- a hash per catalog query (its registered function's source — which
  includes the ``@register`` decorator and therefore the oracle SQL), and
- a hash per shared library module queries lean on (functions/ ops/
  sinks/ sources/), because a query's behavior can change without its own
  source changing (r04's tokenizer change lived in functions/curation.py).

``test_layout.py::test_changed_queries_hold_window_slots`` recomputes the
hashes: a query with a changed hash must be in the first-50 window; a
changed library module requires its mapped canary queries in the window.
Rotating the window = editing ``catalog._PRIORITY`` AND regenerating the
snapshot (``python tools/update_window_snapshot.py``) in the same commit.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os

SNAPSHOT_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "window_snapshot.json")

#: library modules (repo-relative) -> catalog canaries that must enter the
#: window when the module changes. Keep the lists SMALL — one or two
#: representative queries per module; full coverage is the local oracle
#: suite's job, the window slot is the hard driver row.
LIB_CANARIES: dict[str, list[str]] = {
    "bi_gcp_stitch_repl_spark/functions/curation.py": [
        "x_decontaminate", "x_curation_pipeline",
    ],
    "bi_gcp_stitch_repl_spark/functions/bloom.py": ["x_bloom_decontaminate"],
    "bi_gcp_stitch_repl_spark/functions/web.py": [
        "x_html_extract", "x_url_canonicalize", "x_robots_exclusion",
    ],
    "bi_gcp_stitch_repl_spark/functions/dedup.py": ["x_dedup_exact"],
    "bi_gcp_stitch_repl_spark/functions/text.py": ["x_token_count"],
    "bi_gcp_stitch_repl_spark/functions/bpe.py": ["x_bpe_merges"],
    "bi_gcp_stitch_repl_spark/functions/similarity.py": ["x_ivf_topk"],
    "bi_gcp_stitch_repl_spark/functions/rerank.py": ["x_mmr_rerank"],
    "bi_gcp_stitch_repl_spark/functions/graph.py": [
        "x_dedup_clusters", "x_clustering_trade",
    ],
    "bi_gcp_stitch_repl_spark/functions/dispatch.py": [
        "x_pagerank_trade", "x_bpe_merges",
    ],
    "bi_gcp_stitch_repl_spark/functions/codecs.py": [
        "x_image_roundtrip_meta", "x_video_frames_roundtrip",
    ],
    "bi_gcp_stitch_repl_spark/functions/jpeg.py": ["x_mjpeg_avi_roundtrip"],
    "bi_gcp_stitch_repl_spark/functions/multimodal.py": ["x_multimodal_meta"],
    "bi_gcp_stitch_repl_spark/ops/asof.py": ["x_asof_join"],
    "bi_gcp_stitch_repl_spark/ops/rangejoin.py": ["x_range_join_density"],
    "bi_gcp_stitch_repl_spark/ops/history.py": ["flagship_union_history"],
    "bi_gcp_stitch_repl_spark/ops/keys.py": ["j1_carry_forward_keys"],
    "bi_gcp_stitch_repl_spark/ops/normalize.py": ["n_nested_battery"],
    "bi_gcp_stitch_repl_spark/ops/clean.py": ["f_string_clean_coerce"],
    "bi_gcp_stitch_repl_spark/sinks/merge.py": ["k1_merge_upsert"],
    "bi_gcp_stitch_repl_spark/sinks/versioned.py": ["k1_merge_upsert"],
    "bi_gcp_stitch_repl_spark/sources/rest.py": ["s4_keyset_increment", "s7_detail_fanout"],
    "bi_gcp_stitch_repl_spark/sources/warehouse.py": ["s9_sql_scan"],
}


def repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def compute_hashes() -> dict:
    """Current {queries: {name: sha}, libs: {relpath: sha}} state."""
    from bi_gcp_stitch_repl_spark.queries import catalog

    catalog._load_all()
    import re

    queries = {}
    for name, qd in catalog._REGISTRY.items():
        try:
            src = inspect.getsource(qd.fn)
        except (OSError, TypeError):
            src = ""
        # hash the function BODY (decorator lines stripped) + the
        # EVALUATED oracle: the decorator's only semantic payload is the
        # oracle SQL, and hashing its source TEMPLATE instead made pure
        # helper-extraction refactors (identical evaluated oracle,
        # untouched body) count as "changed" and burn window slots
        m = re.search(r"^def ", src, re.M)
        if m:
            src = src[m.start():]
        queries[name] = hashlib.sha256(
            (src + "\x00" + (qd.oracle or "")).encode()
        ).hexdigest()[:16]
    libs = {}
    for rel in LIB_CANARIES:
        path = os.path.join(repo_root(), rel)
        with open(path, "rb") as f:
            libs[rel] = hashlib.sha256(f.read()).hexdigest()[:16]
    # hash of THIS policy module: update_window_snapshot's
    # --migrate-hash-definition bypass is only honored when this differs
    # from the snapshot's recorded value (i.e. the hash definition itself
    # changed), so the bypass can't silently skip the slot check on an
    # ordinary rotation
    with open(os.path.abspath(__file__), "rb") as f:
        policy = hashlib.sha256(f.read()).hexdigest()[:16]
    return {"queries": queries, "libs": libs, "policy": policy}


def load_snapshot() -> dict | None:
    if not os.path.exists(SNAPSHOT_PATH):
        return None
    with open(SNAPSHOT_PATH) as f:
        return json.load(f)


def changed_since_snapshot() -> tuple[set[str], set[str]]:
    """(changed query names, changed library relpaths) vs the snapshot.
    Unknown (newly added) queries count as changed — a new query must
    enter the window on its first round."""
    snap = load_snapshot()
    cur = compute_hashes()
    if snap is None:
        return set(cur["queries"]), set(cur["libs"])
    changed_q = {
        n for n, h in cur["queries"].items() if snap["queries"].get(n) != h
    }
    changed_l = {r for r, h in cur["libs"].items() if snap["libs"].get(r) != h}
    return changed_q, changed_l
