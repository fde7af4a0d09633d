"""One benchmark run of one workload, inside this process.

``run.py`` starts this module in a fresh process group per run; see
``README.md`` for the workloads and metrics. The run:

1. generates the workload's inputs from ``--seed`` (untimed);
2. sets up ``SETUP_REPS`` times and reports the median as ``setup_s``;
3. warms up until two consecutive ops agree within ``STEADY`` (that pair
   opens the timed phase), or until the workload's warm-up budget is spent;
4. runs ops back to back (one closed-loop client) until ``--seconds`` have
   been timed and at least ``MIN_OPS`` ops, checking every op's output.

With ``--trace 1`` the timed ops after the opening pair alternate between
traced and untraced; the per-layer metrics come from the traced ones, and
``trace.overhead_s`` is the median traced op minus the median untraced op.

Prints two JSON lines on stdout: the run record (every op time, in order),
then the result.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import pandas as pd  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import fixture  # noqa: E402
from layers import Tracer  # noqa: E402
from upstream import CHILD_DDL, PARENT_DDL, OrdersUpstream  # noqa: E402

from bi_gcp_stitch_repl_spark.jobs import pipelines  # noqa: E402
from bi_gcp_stitch_repl_spark.jobs.entities import BEXIO_ORDERS_DE  # noqa: E402
from bi_gcp_stitch_repl_spark.queries import catalog  # noqa: E402
from bi_gcp_stitch_repl_spark.session import get_spark  # noqa: E402
from bi_gcp_stitch_repl_spark.sinks.versioned import VersionedTable  # noqa: E402
from bi_gcp_stitch_repl_spark.sources import rest  # noqa: E402

SETUP_REPS = 3
MIN_OPS = 2
STEADY = 0.15
#: failed ops after which the run stops instead of retrying until timeout
MAX_FAILED = 3

#: Per-layer metrics of the traced run and their units. Layers a workload
#: never enters read 0.
PER_LAYER = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_gap_s": "s", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.jvm_gc_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.exec_s": "s",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "functions.graph.pagerank_fixedpoint_s": "s",
    "sources.rest.to_dataframe_s": "s", "sources.rest.pages": "count",
    "sources.rest.rows": "count",
    "sinks.versioned.merge_upsert_s": "s", "sinks.versioned.files_removed": "count",
    "sinks.versioned.files_added": "count", "sinks.versioned.bytes_added": "bytes",
    "sinks.versioned.rewrite_ratio": "ratio",
    "jobs.pipelines.entity_replication.self_s": "s",
    "trace.overhead_s": "s",
}
#: metrics read from a span's self time or job count rather than under
#: their own name
_FROM_SPANS = {
    "queries.build_s": "self_s:queries.build",
    "queries.build_jobs": "jobs_under:queries.build",
    "queries.exec_s": "self_s:queries.exec",
    "functions.graph.pagerank_fixedpoint_s": "self_s:functions.graph.pagerank_fixedpoint",
    "sources.rest.to_dataframe_s": "self_s:sources.rest.to_dataframe",
    "sinks.versioned.merge_upsert_s": "self_s:sinks.versioned.merge_upsert",
    "jobs.pipelines.entity_replication.self_s": "self_s:jobs.pipelines.entity_replication",
}


class CheckFailed(Exception):
    """An op's output differs from the expected output."""


def _digest_columns(columns) -> tuple:
    """Row count and order-insensitive content hash (the exact sum of every
    row's ``xxhash64``) as two aggregate columns ``rows`` and ``hash``."""
    return (
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*columns).cast("decimal(38,0)")).alias("hash"),
    )


def _digest(df, columns) -> tuple[int, int]:
    row = df.agg(*_digest_columns(columns)).collect()[0]
    return row["rows"], int(row["hash"] or 0)


def _frame(spark, rows: list[tuple], columns: list[str], ddl: str):
    """A DataFrame of Python tuples, shipped through Arrow."""
    return spark.createDataFrame(pd.DataFrame.from_records(rows, columns=columns), ddl)


class Replicate:
    """One op is one scheduled ``BEXIO_ORDERS_DE`` sync: offset pagination
    over the seeded upstream, position explode, then the parent and child
    ``merge_upsert`` into a fresh copy of the base tables."""

    warmup_budget_s = 15.0
    #: orders already replicated; the sync re-serves them all, rewrites
    #: ``CHANGED`` of them and adds ``NEW`` * N_BASE new ones
    N_BASE, CHANGED, NEW = 5_000, 0.2, 0.1
    CLOCK = "2026-03-01 00:00:00"

    def __init__(self, spark, seed: int, work: str, tracer: Tracer):
        self.spark, self.work, self.tracer = spark, work, tracer
        self.upstream = OrdersUpstream(seed, self.N_BASE, self.CHANGED, self.NEW)
        parents, children = self.upstream.after_image()
        self.parent_cols = [c.split()[0] for c in PARENT_DDL.split(",")]
        self.child_cols = [c.split()[0] for c in CHILD_DDL.split(",")]
        self.expected = (
            _digest(_frame(spark, parents, self.parent_cols, PARENT_DDL), self.parent_cols),
            _digest(_frame(spark, children, self.child_cols, CHILD_DDL), self.child_cols),
        )
        self.base = self.target = None
        self.batch_rows = 0

    def install_tracing(self) -> None:
        tracer = self.tracer
        to_dataframe = rest.to_dataframe

        def counted_to_dataframe(spark, pages, schema, *args, **kwargs):
            def counted():
                for page in pages:
                    tracer.count("sources.rest.pages", 1)
                    tracer.count("sources.rest.rows", len(page))
                    yield page

            return to_dataframe(spark, counted(), schema, *args, **kwargs)

        rest.to_dataframe = counted_to_dataframe
        tracer.wrap(rest, "to_dataframe", "sources.rest.to_dataframe")
        tracer.wrap(VersionedTable, "merge_upsert", "sinks.versioned.merge_upsert")
        tracer.wrap(pipelines, "entity_replication", "jobs.pipelines.entity_replication")

    def _sync(self, snapshot: list[dict], dest: str) -> int:
        n, n_child = pipelines.entity_replication(
            self.spark,
            OrdersUpstream.transport(snapshot),
            os.path.join(dest, "orders"),
            child_warehouse_path=os.path.join(dest, "order_items"),
            clock=self.CLOCK,
            **BEXIO_ORDERS_DE.params,
        )
        return n + n_child

    def setup_once(self, k: int) -> None:
        """Initial full load of the base snapshot into empty tables."""
        self.base = os.path.join(self.work, f"base{k}")
        self._sync(self.upstream.base, self.base)

    def before_op(self, i: int) -> None:
        self.target = os.path.join(self.work, "op")
        shutil.rmtree(self.target, ignore_errors=True)
        shutil.copytree(self.base, self.target)

    def op(self, i: int) -> tuple[int, list[float]]:
        self.batch_rows = self._sync(self.upstream.sync, self.target)
        return self.batch_rows, []

    def check(self, i: int) -> list[float]:
        """Read both tables back and compare count and content hash with the
        generator's after-image; each read is one timed query."""
        latencies, got = [], []
        for table, cols in (("orders", self.parent_cols), ("order_items", self.child_cols)):
            t0 = time.perf_counter()
            got.append(_digest(VersionedTable(self.spark, os.path.join(self.target, table)).read(), cols))
            latencies.append(time.perf_counter() - t0)
        if tuple(got) != self.expected:
            raise CheckFailed(f"after-image {got} != expected {self.expected}")
        return latencies

    def layer_metrics(self, i: int) -> dict[str, float]:
        """Commit-log totals of the op's two merge commits."""
        out = {"sinks.versioned.files_removed": 0, "sinks.versioned.files_added": 0,
               "sinks.versioned.bytes_added": 0}
        rows_added = 0
        for table in ("orders", "order_items"):
            path = os.path.join(self.target, table)
            vt = VersionedTable(self.spark, path)
            head = vt.history()[0]
            added = set(vt.files_at()) - set(vt.files_at(head["version"] - 1))
            out["sinks.versioned.files_removed"] += head["n_remove"]
            out["sinks.versioned.files_added"] += len(added)
            for f in added:
                out["sinks.versioned.bytes_added"] += os.path.getsize(os.path.join(path, f))
                rows_added += pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        out["sinks.versioned.rewrite_ratio"] = rows_added / self.batch_rows
        return out


class Bi:
    """One op is one pass over the 14 headline catalog queries, each forced
    with a ``noop`` write, in a seed-permuted order, over a fixed generated
    warehouse."""

    warmup_budget_s = 30.0
    #: the warehouse is the same for every seed: the seed only orders the
    #: queries, so each query's output is pinned below
    SF, FIXTURE_SEED = 0.02, 42
    #: the 14 headline queries, with (rows, order-insensitive xxhash64 sum)
    #: of each one's output on that warehouse
    PINNED: dict[str, tuple[int, int]] = {
        "flagship_union_history": (20985, -486468670627940331518),
        "q1_pricing_summary": (6, 3662399842977589217),
        "q3_top_revenue_orders": (10, 4325338045874145062),
        "q5_local_supplier_volume": (5, 7754680166082797678),
        "q7_volume_shipping": (3500, -202944438544030044860),
        "a3_conditional_rollup": (300, -154248417844399225085),
        "w_topk_per_group": (9, -11252524920930474487),
        "x_asof_join": (20000, 630570358804559575529),
        "st_session_windows": (19092, -407201542802262111159),
        "x_dedup_exact": (999, 374498976438181055466),
        "x_minhash_lsh_candidates": (370, -189132123279083965527),
        "x_knn_cosine_topk": (10, -34196235728865534687),
        "x_text_stats": (1000, 231200280326220133861),
        "x_rank_domains": (5, 14235369095742452802),
    }
    QUERIES = tuple(PINNED)

    def __init__(self, spark, seed: int, work: str, tracer: Tracer):
        self.spark, self.work, self.tracer = spark, work, tracer
        self.raw = os.path.join(work, "raw")
        fixture.write(self.raw, self.SF, self.FIXTURE_SEED)
        self.order = random.Random(seed).sample(self.QUERIES, len(self.QUERIES))
        self.queries = catalog.queries()
        self.layout = {t: spark.sparkContext.defaultParallelism
                       for t in ("lineitem", "orders", "events", "documents", "embeddings")}
        self.dir = None
        self.frames: dict = {}
        self.observed: dict = {}

    def install_tracing(self) -> None:
        from bi_gcp_stitch_repl_spark.functions import graph

        self.tracer.wrap(graph, "pagerank_fixedpoint", "functions.graph.pagerank_fixedpoint")

    def setup_once(self, k: int) -> None:
        """Warehouse load: re-lay each large raw single-file table out as
        one file per core, so its scans use every core."""
        self.dir = os.path.join(self.work, f"stage{k}")
        os.makedirs(self.dir)
        for name in fixture.TABLES:
            if name not in self.layout:  # dimensions stay single-file
                shutil.copy(f"{self.raw}/{name}.parquet", self.dir)
                continue
            (df,) = catalog.tables(self.spark, self.raw, name)
            df.repartition(self.layout[name]).write.parquet(f"{self.dir}/{name}.parquet")

    def before_op(self, i: int) -> None:
        pass

    def op(self, i: int) -> tuple[int, list[float]]:
        latencies, rows = [], 0
        self.frames, self.observed = {}, {}
        for name in self.order:
            t0 = time.perf_counter()
            with self.tracer.span("queries.build"):
                df = self.queries[name](self.spark, self.dir)
            obs = Observation()
            with self.tracer.span("queries.exec"):
                df.observe(obs, *_digest_columns(df.columns)).write.format("noop") \
                    .mode("overwrite").save()
            latencies.append(time.perf_counter() - t0)
            got = obs.get
            self.observed[name] = (got["rows"], int(got["hash"] or 0))
            self.frames[name] = df
            rows += got["rows"]
        return rows, latencies

    def check(self, i: int) -> list[float]:
        bad = {n: v for n, v in self.observed.items() if self.PINNED.get(n) != v}
        if bad:
            raise CheckFailed(f"query outputs differ from the pinned ones: {bad}")
        return []

    def layer_metrics(self, i: int) -> dict[str, float]:
        """Catalyst phase times of the pass's 14 plans, summed."""
        out = {"catalyst.analysis_ms": 0.0, "catalyst.optimization_ms": 0.0,
               "catalyst.planning_ms": 0.0}
        for df in self.frames.values():
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                if phases.contains(phase):
                    out[f"catalyst.{phase}_ms"] += phases.apply(phase).durationMs()
        return out


WORKLOADS = {"replicate": Replicate, "bi": Bi}


def _spark(work: str):
    cpus = os.environ["SPARK_GRAFT_CPUS"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # CompileThresholdScaling: hot methods reach the optimizing JIT during
    # the cold first op instead of during the timed ops; on 4 cores the late
    # compiles otherwise made whole runs 30-50 % slower at random
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:CompileThresholdScaling=0.25"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run(workload: str, seed: int, seconds: float, trace: bool, work: str,
        spans_path: str) -> tuple[dict, dict]:
    spark = _spark(work)
    tracer = Tracer(spark)
    w = WORKLOADS[workload](spark, seed, work, tracer)
    if trace:
        w.install_tracing()

    setup = []
    for k in range(SETUP_REPS):
        t0 = time.perf_counter()
        w.setup_once(k)
        setup.append(time.perf_counter() - t0)

    record = {"workload": workload, "seed": seed, "setup_s": setup,
              "warmup_s": [], "ops_s": [], "traced": [], "failed_ops": []}
    timed = {"ops": [], "rows": 0, "queries": [], "traced": [], "untraced": [], "layers": []}
    attempted = failed = 0

    def one_op(i: int, traced: bool) -> tuple[float, int, list[float]] | None:
        """Run, time and check op ``i``; None when it raised or its output
        is wrong."""
        nonlocal attempted, failed
        attempted += 1
        try:
            w.before_op(i)
            t0 = time.perf_counter()
            with tracer.op(i, traced):
                rows, latencies = w.op(i)
            elapsed = time.perf_counter() - t0
            latencies += w.check(i)
        except Exception:  # noqa: BLE001 - one failed op must not end the run
            failed += 1
            record["failed_ops"].append(i)
            traceback.print_exc(file=sys.stderr)
            return None
        if traced:
            row = tracer.op_metrics(i)
            row.update(w.layer_metrics(i))
            timed["layers"].append(row)
        return elapsed, rows, latencies

    def take(res: tuple[float, int, list[float]], traced: bool, opens: bool = False) -> None:
        elapsed, rows, latencies = res
        record["ops_s"].append(elapsed)
        record["traced"].append(traced)
        if not opens:  # the overhead compares ops of the alternating stretch
            (timed["traced"] if traced else timed["untraced"]).append(elapsed)
        if not traced:
            timed["ops"].append(elapsed)
            timed["rows"] += rows
            timed["queries"] += latencies

    # warm up until two consecutive ops agree within STEADY; that pair opens
    # the timed phase. Once the warm-up budget is spent (and the cold first
    # op is behind), the last op opens it instead.
    warm: list = []
    t_warm = time.perf_counter()
    while True:
        warm.append(one_op(len(warm), False))
        a, b = ([None, None] + warm)[-2:]
        if a and b and abs(b[0] - a[0]) <= STEADY * a[0]:
            opening = [a, b]
            break
        if len(warm) >= 2 and time.perf_counter() - t_warm >= w.warmup_budget_s:
            opening = [b] if b else []
            break
    del warm[len(warm) - len(opening):]
    for res in opening:
        take(res, False, opens=True)
    record["warmup_s"] = [r[0] for r in warm if r]

    i = len(warm) + len(record["ops_s"])
    t_run = time.perf_counter() - sum(record["ops_s"])
    while (
        len(record["ops_s"]) < MIN_OPS
        or time.perf_counter() - t_run < seconds
        or (trace and not (timed["traced"] and timed["untraced"]))
    ):
        traced = trace and len(record["ops_s"]) % 2 == 0
        res = one_op(i, traced)
        i += 1
        if res is not None:
            take(res, traced)
        elif failed >= MAX_FAILED:
            break

    if not timed["ops"]:
        raise RuntimeError("no timed op succeeded; nothing was measured")
    if trace:
        tracer.dump(spans_path)
        record["spans"] = os.path.relpath(spans_path)
        metrics = _per_layer(timed)
    else:
        metrics = {
            "setup_s": (statistics.median(setup), "s"),
            "op_s.p50": (statistics.median(timed["ops"]), "s"),
            "rows_per_s": (timed["rows"] / sum(timed["ops"]), "1/s"),
            "query_s.p50": (statistics.median(timed["queries"]), "s"),
        }
    spark.stop()
    return record, {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _per_layer(timed: dict) -> dict[str, tuple[float, str]]:
    rows = timed["layers"]
    out = {}
    for name, unit in PER_LAYER.items():
        if name == "trace.overhead_s":
            value = statistics.median(timed["traced"]) - statistics.median(timed["untraced"])
        else:
            key = _FROM_SPANS.get(name, name)
            value = statistics.median(r.get(key, 0) for r in rows)
        out[name] = (value, unit)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True, help="scratch directory of this run")
    ap.add_argument("--spans", required=True, help="where the traced run writes its spans")
    a = ap.parse_args()
    record, result = run(a.workload, a.seed, a.seconds, bool(a.trace), a.work, a.spans)
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
