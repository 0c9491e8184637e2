"""Batch workloads: judged registry queries over seeded fixture-shaped
tables, run by one closed-loop client.

Timed run: a warm-up pass collects every query's result (the results are
what the output check compares with the DuckDB oracle) and a second
warm-up pass runs them through the ``noop`` sink; both are set-up, since
the pass right after the first can still run slow. Then a fixed number of
measured passes, sized from the run's seconds, run each query through the
``noop`` sink in an order drawn from the seed. The latency samples of a
batch workload are its Spark jobs, the batch counterpart of a micro-batch
trigger: ``trigger_p50_ms`` is their median (interpolated within its
millisecond). A pass is the batch run's unit, as a drain is the feed's:
``trigger_tail_ms`` is the percentile the feed's tail rule gives for one
pass's jobs (p84 of about 65), read over the jobs of all measured passes.
(The rule applied to the pooled jobs lands on the few heaviest jobs, whose
latency varies by a fifth from run to run; read over one pass, p84 varies
by a tenth from pass to pass.)

Traced run: the same set-up, a ``tables`` scan span, one untimed
reference pass, one pass with a span per query, and, for the dedup
workload, a span per ``functions`` primitive.
"""

from __future__ import annotations

import dataclasses
import random
import statistics
import time

from perfbench import gen
from perfbench.harness import Ctx
from perfbench.spans import Spans, job_durations_ms
from perfbench.stats import median, percentile, tail_percentile

GEN_REPEATS = 3
WARMUP_PASSES = 1               # noop passes after the collecting one
MIN_PASSES = 3                  # measured passes per run, at the least


@dataclasses.dataclass(frozen=True)
class BatchWorkload:
    queries: tuple[str, ...]
    scan_table: str             # the table of the ``tables.scan`` span
    input_tables: tuple[str, ...]   # rows counted by events_per_s
    orders: int
    docs: int
    vectors: int
    pass_s: float               # nominal warm pass on local[2]

    def passes(self, seconds: float) -> int:
        """Measured passes for a window of about ``seconds``; a fixed
        count, so every run takes its medians over the same samples."""
        return max(MIN_PASSES, round(seconds / self.pass_s))


WORKLOADS = {
    # Python UDFs plus banded self-joins: functions/dedup.py and
    # functions/curation.py behind the two heaviest judged dedup rows
    "corpus_dedup": BatchWorkload(
        queries=("pipeline_dedup_cascade",),
        scan_table="documents", input_tables=("documents", "embeddings"),
        orders=2_000, docs=1_000, vectors=600, pass_s=4.5),
    # pure Spark SQL plans over table scans; starts no Python workers
    "olap_mix": BatchWorkload(
        queries=("q1_pricing_summary", "q3_shipping_priority",
                 "q5_region_revenue", "q6_forecast_revenue",
                 "q10_returned_items", "window_topk_orders_per_customer",
                 "asof_join_last_purchase"),
        scan_table="lineitem",
        input_tables=("lineitem", "orders", "customer", "events"),
        orders=20_000, docs=100, vectors=100, pass_s=4.0),
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _setup(ctx: Ctx, wl: BatchWorkload, spark_s: float):
    """Generate the tables (``GEN_REPEATS`` times; the median counts
    toward set-up) and run the warm-up passes: the first collects each
    query's result for the output check, the next ``WARMUP_PASSES`` run
    through the ``noop`` sink. Returns (table dir, results, setup s)."""
    from fictional_guacamole_spark.plans import REGISTRY

    table_dir = ctx.path("tables")
    gen_s = []
    for _ in range(GEN_REPEATS):
        t0 = time.perf_counter()
        gen.make_tables(ctx.seed, table_dir, wl.orders, wl.docs, wl.vectors)
        gen_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    results = {}
    for name in wl.queries:
        results[name] = REGISTRY[name].builder(ctx.spark, table_dir).toPandas()
        ctx.tally.record(f"warm-up {name}", True)
    for i in range(WARMUP_PASSES):
        _pass(ctx, table_dir, list(wl.queries), None, f"warm-up{i}")
    return table_dir, results, spark_s + median(gen_s) + (
        time.perf_counter() - t0)


def check_results(ctx: Ctx, table_dir: str, results: dict) -> None:
    """Each query's result against its DuckDB oracle, by the canonical
    hash of ``tools/driver_mirror.py``."""
    import duckdb

    from fictional_guacamole_spark.plans import REGISTRY
    from fictional_guacamole_spark.tables import TABLE_NAMES
    from tools.driver_mirror import _canon_hash

    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB"})
    try:
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{table_dir}/{t}.parquet'")
        for name, got in results.items():
            want = con.sql(REGISTRY[name].oracle).df()
            ctx.tally.check(f"{name}: oracle hash",
                            (sorted(got.columns), len(got),
                             _canon_hash(got)[0]),
                            (sorted(want.columns), len(want),
                             _canon_hash(want)[0]))
    finally:
        con.close()


def _pass(ctx: Ctx, table_dir: str, order: list[str], spans: Spans | None,
          group_prefix: str) -> tuple[float, list[str]]:
    """One pass over the queries in ``order``. With ``spans``, each query
    is the span ``plans.<query>``; without, each runs under a plain job
    group so its jobs can be timed. Returns (wall, job groups)."""
    from fictional_guacamole_spark.plans import REGISTRY

    sc = ctx.spark.sparkContext
    groups = []
    t0 = time.perf_counter()
    for name in order:
        if spans is not None:
            with spans.span(f"plans.{name}") as group:
                _noop(REGISTRY[name].builder(ctx.spark, table_dir))
        else:
            group = f"{group_prefix}:{name}"
            sc.setJobGroup(group, name)
            _noop(REGISTRY[name].builder(ctx.spark, table_dir))
        groups.append(group)
        ctx.tally.record(f"{group_prefix} {name}", True)
    if spans is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return time.perf_counter() - t0, groups


def _input_rows(table_dir: str, tables: tuple[str, ...]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f"{table_dir}/{t}.parquet").metadata.num_rows
               for t in tables)


def run(ctx: Ctx, spark_s: float) -> dict:
    """Timed run: every end-to-end metric."""
    wl = WORKLOADS[ctx.workload]
    table_dir, results, setup_s = _setup(ctx, wl, spark_s)
    rng = random.Random(ctx.seed)
    sc = ctx.spark.sparkContext
    tracker = sc.statusTracker()
    walls, jobs_ms, pcts = [], [], []
    for _ in range(wl.passes(ctx.seconds)):
        order = list(wl.queries)
        rng.shuffle(order)
        wall, groups = _pass(ctx, table_dir, order, None, f"pass{len(walls)}")
        walls.append(wall)
        pass_ms = [ms for g in groups for ms in
                   job_durations_ms(sc, tracker.getJobIdsForGroup(g))]
        jobs_ms += pass_ms
        pcts.append(tail_percentile(pass_ms)[0])
    # the tail rule's percentile for one pass, read over all passes' jobs
    pct = min(pcts)
    ctx.notes.append(f"{len(walls)} passes; trigger_* are Spark job "
                     f"latencies; trigger_tail_ms is p{pct} (the tail rule "
                     f"for one pass's jobs) of all {len(jobs_ms)} jobs")
    pass_s = median(walls)
    metrics = {
        "setup_s": (setup_s, "s"),
        "events_per_s": (_input_rows(table_dir, wl.input_tables) / pass_s,
                         "1/s"),
        # job times are whole milliseconds and the median job takes about
        # 25: interpolate the median inside its 1 ms class
        "trigger_p50_ms": (statistics.median_grouped(jobs_ms), "ms"),
        "trigger_tail_ms": (percentile(jobs_ms, pct), "ms"),
        "pass_s": (pass_s, "s"),
    }
    check_results(ctx, table_dir, results)
    return metrics


def _function_spans(ctx: Ctx, spans: Spans, table_dir: str) -> dict:
    """Spans around the dedup and curation primitives the judged dedup
    rows are built from, over the whole documents table."""
    from pyspark.sql import functions as F

    from fictional_guacamole_spark.functions import curation as C
    from fictional_guacamole_spark.functions import dedup as D
    from fictional_guacamole_spark.tables import load_table

    docs = load_table(ctx.spark, table_dir, "documents")
    words = D.words_frame(docs, "doc_id", "text").persist()
    with spans.span("functions.dedup.words"):
        _noop(words)
    cand = D.minhash_lsh_pairs_from_words(words, n=3).persist()
    with spans.span("functions.dedup.minhash_pairs"):
        _noop(cand)
    n_cand = cand.count()
    verified = cand.filter(F.col("est_jaccard") >= 0.5).select(
        "doc_a", "doc_b")
    n_verified = verified.count()
    ids = docs.select(F.col("doc_id").alias("doc"))
    with spans.span("functions.dedup.components"):
        _noop(D.dedup_components(verified, ids))
    with spans.span("functions.curation.semantic_pairs"):
        _noop(C.semantic_pairs_from_words(words, tau_num=9, tau_den=10,
                                          shingle_n=1))
    cand.unpersist()
    words.unpersist()
    m = {name + "_s": (spans.wall[name], "s") for name in (
        "functions.dedup.words", "functions.dedup.minhash_pairs",
        "functions.dedup.components", "functions.curation.semantic_pairs")}
    m["functions.dedup.pair_yield"] = (
        n_verified / n_cand if n_cand else 0.0, "ratio")
    return m


def run_traced(ctx: Ctx, spark_s: float) -> dict:
    """Traced run: every per-layer metric of the batch layers."""
    from fictional_guacamole_spark.tables import load_table

    wl = WORKLOADS[ctx.workload]
    spans = Spans(ctx.spark.sparkContext)
    table_dir, results, _setup_s = _setup(ctx, wl, spark_s)
    with spans.span("tables.scan"):
        _noop(load_table(ctx.spark, table_dir, wl.scan_table))
    order = list(wl.queries)
    random.Random(ctx.seed).shuffle(order)
    persistent = ctx.spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    plain_wall, _ = _pass(ctx, table_dir, order, None, "reference")
    cached = persistent().size() - before
    traced_wall, _ = _pass(ctx, table_dir, order, spans, "traced")
    # a second reference pass after the traced one, so the process warming
    # between passes does not read as (negative) tracing overhead
    plain_wall += _pass(ctx, table_dir, order, None, "reference")[0]
    m = {
        "trace.overhead_ratio": (2 * traced_wall / plain_wall, "ratio"),
        "tables.scan_s": (spans.wall["tables.scan"], "s"),
        "session.cached_rdds_after_pass": (cached, "count"),
    }
    for name in wl.queries:
        m[f"plans.{name}_s"] = (spans.wall[f"plans.{name}"], "s")
    if "documents" in wl.input_tables:
        m.update(_function_spans(ctx, spans, table_dir))
    check_results(ctx, table_dir, results)
    ctx.spans = spans
    return m
