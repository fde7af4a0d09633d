"""Query catalog: every engine operator as a named, oracle-checked query.

Each entry pairs
- a Spark callable ``(spark, sf_dir) -> DataFrame`` (idiomatic DataFrame API,
  exercising the engine modules), and
- an equivalent ANSI-SQL string DuckDB runs on the same parquet tables.

The driver hash-compares the two at sf=0.01 (row count + sorted column names
+ order-insensitive value hash), so determinism rules apply everywhere:

* **Money/metric aggregation** goes through DECIMAL: ``sum(cast(x as
  decimal(28,10)))`` is exact, hence independent of Spark's partition
  summation order, and matches DuckDB bit-for-bit once cast back to double
  (verified empirically on this data). Raw double ``sum()`` is
  order-dependent and would flake under AQE re-planning.
* **Vector math** uses Spark's ``aggregate``/``zip_with`` sequential fold,
  which matches DuckDB's ``list_sum(list_transform(list_zip(...)))``
  element order exactly (verified).
* **Top-k and limits** always carry a unique tiebreaker key in the ORDER BY.
* **No nondeterministic functions** (uuid, current_timestamp, first without
  order) anywhere in the catalog surface; carried-key defaults are
  deterministic expressions of the business key.
* ``events.ts`` has shipped as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS)
  parquet across driver testdata generations. Spark refuses nanos by
  default: for that layout the loader flips
  ``spark.sql.legacy.parquet.nanosAsLong`` and rebuilds a microsecond
  timestamp with ``timestamp_micros(ts div 1000)`` — exactly DuckDB's
  read-time nanos→micros truncation. Micros parquet carries
  ``isAdjustedToUTC=false`` so Spark infers TIMESTAMP_NTZ; the loader
  casts it to TIMESTAMP (a value-preserving no-op under the pinned UTC
  session TZ, and DuckDB reads the same file as its naive TIMESTAMP), so
  BOTH generations present the identical TIMESTAMP(LTZ) type downstream
  and ``unix_micros``-family functions always apply. The loader sniffs
  the physical type from the footer instead of assuming either; INT96
  (Spark's legacy LTZ layout, which pyarrow also reports as ``ns``) is
  explicitly NOT the nanos generation — Spark reads it natively.
"""

from __future__ import annotations

import functools
import os
import tempfile
import zipfile
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


_REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator adding a (spark, sf_dir) -> DataFrame callable to the
    catalog, with its DuckDB oracle SQL (None → rows-only check)."""

    def wrap(fn):
        _REGISTRY[name] = QueryDef(fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return wrap


_SHIPPED_APPS: set[str] = set()
_SHIP_LOCK = __import__("threading").Lock()


def _ensure_importable_on_workers(spark: SparkSession) -> None:
    """Python workers do NOT inherit the driver's ``sys.path`` — they only
    see the repo when the daemon happens to start with cwd = repo root. An
    external driver importing ``__spark_entry__`` from elsewhere would have
    every ``mapInPandas``/``applyInPandas`` task die with
    ModuleNotFoundError. Ship the package once per SparkContext as a zip
    via ``addPyFile`` — the same mechanism as ``spark-submit --py-files``,
    and exactly how the job would deploy to a real multi-node cluster
    (executors there share no filesystem with the driver at all)."""
    app = spark.sparkContext.applicationId
    if app in _SHIPPED_APPS:
        return
    with _SHIP_LOCK:
        _ship_package(spark, app)


def _ship_package(spark: SparkSession, app: str) -> None:
    # under the lock: concurrent tables() callers (e.g. a threaded loader
    # staging ten tables at once) must not race two addPyFile calls for the
    # same archive name — SparkContext rejects re-adding a changed file
    if app in _SHIPPED_APPS:
        return
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg_name = os.path.basename(pkg_dir)
    zip_path = os.path.join(
        tempfile.mkdtemp(prefix="spark_pkg_"), f"{pkg_name}.zip"
    )
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fname in files:
                if not fname.endswith(".py"):
                    continue
                full = os.path.join(root, fname)
                arc = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                zf.write(full, arc)
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED_APPS.add(app)


@functools.lru_cache(maxsize=256)
def _events_ts_is_nanos(path: str) -> bool:
    """Sniff the parquet footer for ``ts``'s physical unit (module docstring:
    the driver has shipped both nanos and micros across generations).

    Reads the parquet schema directly (NOT the arrow view of it): pyarrow
    reports INT96 timestamps as ``timestamp[ns]`` too, but INT96 is Spark's
    legacy LTZ layout which Spark reads natively — treating it as the nanos
    generation would apply ``ts div 1000`` to a TIMESTAMP and fail analysis.
    True only for physical INT64 with a logical TIMESTAMP(nanos) annotation.
    Cached per resolved path: the footer read otherwise repeats on every
    ``tables()`` call naming events (dozens per bench/correctness run).
    Unreadable paths / missing ``ts`` fall back to False (plain read).
    """
    import pyarrow.parquet as pq

    pfile = path
    if os.path.isdir(path):
        frags = [
            os.path.join(path, f)
            for f in sorted(os.listdir(path))
            if f.endswith(".parquet")
        ]
        if not frags:
            return False
        pfile = frags[0]
    try:
        schema = pq.ParquetFile(pfile).schema
        col = schema.column(schema.names.index("ts"))
    except Exception:
        return False
    if col.physical_type == "INT96":
        return False
    return "nanosecond" in str(col.logical_type).lower()


#: (absolute path, mtime_ns) → StructType. `spark.read.parquet` runs a
#: 1-task schema-inference job per call; a session reads the same fixture
#: tables dozens of times (the bench alone calls each query 3×), so every
#: catalog query was paying ~5 footer jobs (~50 ms + scheduling gap each)
#: before its first real stage. The cache is METADATA only — results are
#: always computed from the parquet — and the mtime_ns key drops it the
#: moment a path is rewritten. Schemas are engine-derived, so feeding one
#: back via ``.schema(...)`` reproduces the inferred read exactly.
_SCHEMA_CACHE: dict = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` with the (path, mtime) schema cache above.
    Unreadable mtimes (exotic filesystems) just fall back to inference."""
    try:
        key = (os.path.abspath(path), os.stat(path).st_mtime_ns)
    except OSError:
        return spark.read.parquet(path)
    sch = _SCHEMA_CACHE.get(key)
    if sch is not None:
        return spark.read.schema(sch).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_CACHE[key] = df.schema
    return df


def tables(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    """Load the named testdata tables; ``events.ts`` is normalized to
    TIMESTAMP (LTZ) whichever parquet generation shipped (see module
    docstring): nanos-as-long gets the div-1000 rebuild, micros-NTZ gets a
    value-preserving cast under the pinned UTC session TZ.

    The UTC pin is UNCONDITIONAL (not just on the events-NTZ path): every
    date/time extraction in the catalog — year(o_orderdate), to_date,
    date_trunc, last_day — reads the session timezone, and an external
    driver's session may carry a host TZ. Under e.g. America/Chicago,
    ``year('1997-01-01T00:00Z')`` is 1996 — green in the pinned harness,
    silently shifted everywhere else. The engine contract is UTC
    (session.py); this is the catalog-side enforcement for foreign
    sessions."""
    _ensure_importable_on_workers(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = []
    for name in names:
        if name == "events" and _events_ts_is_nanos(f"{sf_dir}/events.parquet"):
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = _read_parquet(spark, f"{sf_dir}/events.parquet").withColumn(
                "ts", F.expr("timestamp_micros(ts div 1000)")
            )
        else:
            df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
            if name == "events" and dict(df.dtypes).get("ts") == "timestamp_ntz":
                # the NTZ→LTZ cast is value-preserving ONLY under UTC; pin
                # it here because an external driver's session (not built
                # by session.get_spark) may carry a host timezone
                spark.conf.set("spark.sql.session.timeZone", "UTC")
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        out.append(df)
    return out


def spread_narrow(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition a SEVERELY-narrow scan (under 1/8 of session
    parallelism) up to session parallelism, so a CPU-heavy expression
    chain doesn't run serially until its first natural shuffle — the
    single-file fixture problem.

    The 1/8 trigger is measured, both ways: at ONE scan task the spread
    is a clear win (MinHash signature chain 1.9 s → 0.8 s at sf0.1); at
    8 tasks on 32 cores the extra pass over the raw data measurably
    LOSES (+0.1 s on bench's staged 8-file layout).

    Two-tier probe, cheap-first: ``inputFiles()`` is a file listing
    (~2 ms, no planning) and file count LOWER-bounds partition count
    (big files split, they never merge below the file count under the
    default open-cost) — so ≥-threshold file counts skip without
    touching ``.rdd``. Only a below-threshold listing (or a non-scan
    frame, which lists empty) falls through to
    ``rdd.getNumPartitions()``, which compiles the physical plan
    (~50-100 ms) but answers exactly — catching the one-big-splittable-
    file case where a repartition would be wasted. On a production
    input (thousands of splits at 100 TB) the cheap tier always
    answers."""
    sc = df.sparkSession.sparkContext
    threshold = max(2, sc.defaultParallelism // 8)
    try:
        if len(df.inputFiles()) >= threshold:
            return df
    except Exception:
        pass  # non-scan frames: fall through to the exact probe
    if df.rdd.getNumPartitions() < threshold:
        df = df.repartition(sc.defaultParallelism, *key_cols) if key_cols else (
            df.repartition(sc.defaultParallelism)
        )
    return df


#: Explicit catalog order. The external correctness driver checks the FIRST
#: 50 registered queries only. Round-12 rotation (policy pinned by
#: tests/window_policy.py + test_layout.py — a changed query or library
#: module without a window slot is a test FAILURE):
#: 1. §2 spine: flagship_union_history stays every round (the driver's
#:    smoke query).
#: 2. Re-oracled graph-family rewrites (7 — the r11 verdict's #3): the
#:    round-11 optimization session gave bfs_hops / sssp_weighted /
#:    k_core / pagerank_fixedpoint / hits_fixedpoint / personalized-
#:    PageRank driver fast paths AFTER their catalog twins rotated out
#:    of the r11 window, so their driver rows predate the rewrites.
#:    Seated: x_bfs_trade, x_sssp_trade, x_kcore_trade,
#:    x_pagerank_trade, x_hits_trade, x_ppr_trade, x_triangle_trade
#:    (the wedge-join rewrite's twin; also this round's undirected
#:    probe restructure runs under all seven). Slots funded by
#:    releasing seven r11-fresh cohort members whose libraries are
#:    untouched this round (the w_topk_per_group precedent):
#:    x_bigram_stats, x_bm25_topk, x_ccnet_buckets, x_jl_project,
#:    x_lang_id, x_lm_likelihood, x_quality_score.
#: 3. Changed-library / changed-query canaries stay seated:
#:    x_dedup_clusters + x_clustering_trade (functions/graph.py — the
#:    r12 dispatch/NULL-weight fixes), x_ivf_topk (similarity.py),
#:    x_mmr_rerank (rerank.py), x_bpe_merges (bpe.py), x_dsir_weights
#:    (model-fit driver path — its own body changed this round),
#:    x_curation_pipeline / x_decontaminate (curation.py), the web.py
#:    trio. The rest of the r11 window keeps its slots — every member's
#:    freshest driver row is r11, far above the machine-checked >=r08
#:    staleness bar, and rotation churn is itself a correctness risk.
#: 4. Changed sink/source canaries: k1_merge_upsert (sinks/versioned.py —
#:    the undistinct bounds probe and footer-schema reads) and
#:    s4_keyset_increment + s7_detail_fanout (sources/rest.py — the Arrow
#:    extract) take the slots of x_split_shard, x_stratified_sample and
#:    x_string_agg, released: each r12-fresh, its library untouched.
#: 5. Changed ops canaries: n_nested_battery (ops/normalize.py) and
#:    f_string_clean_coerce (ops/clean.py) — both modules lost helpers no
#:    query used — take the slots of x_mixture_sample and
#:    x_weighted_sample, released: each r12-fresh, its library untouched.
#: 6. Changed-library canaries after the test-only surface was deleted:
#:    x_image_roundtrip_meta + x_video_frames_roundtrip (functions/codecs.py
#:    lost ``video_meta``), x_dedup_exact (functions/dedup.py lost
#:    ``dedup_keep_first``) and s9_sql_scan (sources/warehouse.py lost
#:    ``load_tables``) take the slots of x_bfs_trade, x_kcore_trade,
#:    x_hits_trade and x_ppr_trade, released: each was seated for its
#:    r11 re-oracle, is r12-fresh, and functions/graph.py is untouched.
#: 7. x_token_count (functions/text.py lost the uncalled ``shingles``)
#:    takes the slot of x_winnowing_pairs, released: r12-fresh, spelled
#:    inline in queries/extensions.py, no library of it touched.
#: Names absent from this list keep registration order after it.
_PRIORITY: list[str] = [
    # §2 spine
    "flagship_union_history",
    # library canaries (see header)
    "x_html_extract", "x_url_canonicalize", "x_robots_exclusion",
    "x_dedup_clusters", "x_clustering_trade", "x_mmr_rerank",
    # r11 cohort minus the seven released members (see header)
    "w_topk_per_group", "x_bloom_decontaminate",
    "x_curation_pipeline",
    "x_decontaminate", "x_dedup_embedding_pairs", "x_dedup_near_survivors",
    "x_dedup_normalized", "x_dsir_weights", "x_embedding_quantize",
    "x_feature_hash_embed", "x_fingerprint", "x_gopher_rules",
    "x_ivf_topk", "x_knn_cosine_topk",
    "x_minhash_lsh_candidates",
    "x_multimodal_meta", "x_semantic_decontaminate",
    "x_semdedup", "x_simhash", "x_simhash_pairs", "x_sparse_cosine_pairs",
    "x_token_budget_plan", "x_vocab_encode",
    "x_winnowing_fingerprints",
    # r11 new-query cohort (keeps slots)
    "x_communities_trade", "x_bpe_merges", "x_modularity_trade",
    "x_bpe_encode", "x_image_dhash_near_dups", "x_random_walks_trade",
    # re-oracled graph-family rewrites (3 of the 7 left): see header
    "x_sssp_trade", "x_pagerank_trade", "x_triangle_trade",
    # changed sink/source canaries (see header)
    "k1_merge_upsert", "s4_keyset_increment", "s7_detail_fanout",
    # changed ops canaries (see header)
    "n_nested_battery", "f_string_clean_coerce",
    # changed-library canaries after the test-only deletions (see header)
    "x_image_roundtrip_meta", "x_video_frames_roundtrip", "x_dedup_exact",
    "s9_sql_scan",
    # changed text.py canary (see header)
    "x_token_count",
]


def _ordered() -> dict[str, QueryDef]:
    _load_all()
    out: dict[str, QueryDef] = {}
    for name in _PRIORITY:
        if name in _REGISTRY:
            out[name] = _REGISTRY[name]
    for name, qd in _REGISTRY.items():
        if name not in out:
            out[name] = qd
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: qd.fn for name, qd in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {name: qd.oracle for name, qd in _ordered().items() if qd.oracle is not None}


_LOADED = False


def _load_all() -> None:
    """Import the query modules exactly once (they self-register)."""
    global _LOADED
    if _LOADED:
        return
    from . import (  # noqa: F401
        behavior,
        curation,
        deep_joins,
        extensions,
        parity,
        relational_ext,
        web,
        windows,
    )

    _LOADED = True
