"""Feed workloads: a seeded exchange capture replayed through
``run_pipeline`` (frame_replay source → GDAX parse → book kernel → books,
trades and gaps sinks, with backfill), drained closed-loop by one client.

Timed run: one drain of the capture. Its first triggers are the warm-up
and count toward set-up: the first pays the process's one-time costs
(Python workers, JIT, state store start), the next ones still run slower.
The measured window runs from the end of the last warm-up trigger to the
return of ``processAllAvailable()``. The sinks are then compared with a
pure-Python replay of the whole capture.

Traced run: the same set-up on a shorter capture (``TRACED_TRIGGERS``
measured triggers), one reference drain without spans, and one
traced drain composed as ``apply_book_kernel(frames).writeStream
.foreachBatch(w)``, where ``w`` first persists and counts the batch (the
kernel span) and then calls ``make_batch_writer(...)`` (the sink span).
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import math
import os
import time
from collections import defaultdict

from perfbench import gen
from perfbench.harness import Ctx
from perfbench.spans import Spans, job_tasks
from perfbench.stats import median, tail_percentile

# leading triggers of a drain that are set-up: the first pays the process's
# one-time costs (about five plain triggers' worth), the next ones still
# run 10-30 % slower than the rest while the JVM warms
WARMUP_TRIGGERS = 6
# measured triggers of the traced run's two drains, which report medians
# only and need no tail
TRACED_TRIGGERS = 6
GEN_REPEATS = 3


@dataclasses.dataclass(frozen=True)
class FeedWorkload:
    products: int
    frames_per_trigger: int
    levels: int
    deep_share: float
    top_share: float
    gap_every: int
    min_triggers: int
    trigger_s: float            # nominal mean trigger, local[2] of 4 cores

    def shape(self, seconds: float, measured: int = 0) -> gen.FeedShape:
        """The capture for a measured window of about ``seconds``: the
        warm-up triggers plus a whole number of measured triggers, never
        fewer than ``min_triggers``; or exactly ``measured`` of them."""
        n = measured or max(self.min_triggers,
                            math.ceil(seconds / self.trigger_s))
        return gen.FeedShape(self.products, self.frames_per_trigger,
                             WARMUP_TRIGGERS + n, self.levels,
                             self.deep_share, self.top_share, self.gap_every)

    @property
    def fetcher(self):
        return gen.fetch_trades if self.gap_every else None


WORKLOADS = {
    # 4 books at Pareto depth: most deltas land below the top 15 and emit
    # nothing, so the Python book kernel is most of each trigger
    "feed_deep_book": FeedWorkload(
        products=4, frames_per_trigger=1500, levels=400, deep_share=0.8,
        top_share=0.1, gap_every=0, min_triggers=12, trigger_s=1.6),
    # 64 shallow books: nearly every delta changes a top 15, and one
    # trigger in twelve carries a trade-id gap that backfill repairs (a gap
    # trigger takes about four plain ones, so the median stays on the
    # plain triggers and most of the window measures them)
    "feed_many_books": FeedWorkload(
        products=64, frames_per_trigger=100, levels=30, deep_share=0.0,
        top_share=0.8, gap_every=12, min_triggers=11, trigger_s=1.4),
}


# ---------------------------------------------------------------------------
# drains
# ---------------------------------------------------------------------------

def _frames(spark, path: str, frames_per_trigger: int):
    from fictional_guacamole_spark.sources.replay import read_frames_stream
    from fictional_guacamole_spark.streaming.frames import (
        ensure_frame_schema, parse_gdax_frames)

    return ensure_frame_schema(parse_gdax_frames(
        read_frames_stream(spark, path, frames_per_trigger)))


def _await(query, t0: float) -> dict:
    """Drain a started query; stop it on every path. ``t0`` is the
    ``time.time()`` just before the query was built."""
    try:
        query.processAllAvailable()
        t_done = time.time()
        progress = [p for p in query.recentProgress if p["numInputRows"]]
    finally:
        query.stop()
    return {"t0": t0, "t_done": t_done, "progress": progress}


def drain(ctx: Ctx, wl: FeedWorkload, path: str, tag: str) -> dict:
    """``run_pipeline`` over one capture until it is drained."""
    from fictional_guacamole_spark.streaming.pipeline import run_pipeline

    sink, ckpt = ctx.path(tag, "sink"), ctx.path(tag, "ckpt")
    t0 = time.time()
    frames = _frames(ctx.spark, path, wl.frames_per_trigger)
    query = run_pipeline(frames, sink, ckpt, fetcher=wl.fetcher,
                         query_name=f"perfbench_{tag}")
    return dict(_await(query, t0), sink=sink)


def window(result: dict) -> tuple[float, float, list]:
    """Split a drain at the end of its warm-up triggers: (warm-up
    seconds, measured seconds, progress of the measured triggers).
    Progress timestamps and ``time.time()`` read the same clock."""
    warm = result["progress"][:WARMUP_TRIGGERS]
    warm_end = max(
        dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=dt.timezone.utc).timestamp()
        + p["durationMs"]["triggerExecution"] / 1000 for p in warm)
    return (warm_end - result["t0"], result["t_done"] - warm_end,
            result["progress"][WARMUP_TRIGGERS:])


def traced_drain(ctx: Ctx, wl: FeedWorkload, path: str, spans: Spans,
                 tag: str) -> dict:
    """The pipeline of ``run_pipeline`` composed by hand, so the kernel
    and the sinks run in separate spans. One span call per batch."""
    from fictional_guacamole_spark.operators.book import apply_book_kernel
    from fictional_guacamole_spark.streaming.pipeline import (
        make_batch_writer)

    sink, ckpt = ctx.path(tag, "sink"), ctx.path(tag, "ckpt")
    writer = make_batch_writer(sink, wl.fetcher)
    batches: list[int] = []

    def write(batch_df, batch_id: int) -> None:
        batches.append(batch_id)
        with spans.span("operators.book.kernel"):
            batch_df.persist()
            batch_df.count()
        try:
            with spans.span("streaming.pipeline.sink"):
                writer(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    t0 = time.time()
    out = apply_book_kernel(_frames(ctx.spark, path, wl.frames_per_trigger))
    query = (out.writeStream.foreachBatch(write).outputMode("append")
             .option("checkpointLocation", ckpt)
             .queryName(f"perfbench_{tag}").start())
    return dict(_await(query, t0), sink=sink, batches=batches)


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------

def read_sink(path: str) -> list[dict]:
    """All rows of one parquet sink, partition columns included, read
    with pyarrow (independent of the engine). Timestamps become epoch
    microseconds."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    if not os.path.isdir(path):
        return []
    # partition directories start with "_batch=", so only dot files and
    # the commit marker are skipped
    table = ds.dataset(path, format="parquet", partitioning="hive",
                       ignore_prefixes=[".", "_SUCCESS"]).to_table()
    cols = {}
    for name in table.column_names:
        col = table.column(name)
        if pa.types.is_timestamp(col.type):
            col = pc.cast(pc.cast(col, pa.timestamp("us")), pa.int64())
        cols[name] = col.to_pylist()
    n = table.num_rows
    return [{k: v[i] for k, v in cols.items()} for i in range(n)]


def expected_outputs(cap: gen.Capture) -> dict:
    """Pure-Python replay of the capture with the engine's own
    ``OrderBook``/``process_frames``, plus what the generator planted."""
    from fictional_guacamole_spark.operators.book import (
        OrderBook, process_frames)

    by_product: dict[str, list[dict]] = defaultdict(list)
    for rec in cap.records:
        by_product[rec["product_id"]].append(rec)
    books, trades = defaultdict(list), defaultdict(set)
    for pid, frames in by_product.items():
        for row in process_frames(OrderBook(), iter(frames)):
            if row["out_type"] == "book":
                books[pid].append((row["server_ts"], tuple(row["bids"]),
                                   tuple(row["asks"])))
            elif row["out_type"] == "trade":
                trades[pid].add((row["trade_id"], row["server_ts"],
                                 row["sequence"], row["price"],
                                 row["volume"], row["side"], False))
    backfilled = set()
    if cap.shape.gap_every:
        for pid, first, last in cap.gaps:
            page = {t["trade_id"]: t for t in gen.fetch_trades(pid, last + 1)}
            for tid in range(first, last + 1):
                t = page[tid]
                trades[pid].add((tid, None, None, t["price"], t["volume"],
                                 t["side"], True))
                backfilled.add((pid, tid))
    return {"books": dict(books), "trades": dict(trades),
            "gaps": set(cap.gaps), "backfilled": backfilled,
            "final_top": cap.final_top}


def check_sinks(ctx: Ctx, cap: gen.Capture, sink: str, label: str) -> dict:
    """Compare the three sinks with the expected outputs; each comparison
    is one operation of the run's tally. Returns the sink rows."""
    want = expected_outputs(cap)
    books_rows = read_sink(os.path.join(sink, "books"))
    trade_rows = read_sink(os.path.join(sink, "trades"))
    gap_rows = read_sink(os.path.join(sink, "gaps"))
    books = defaultdict(list)
    for r in sorted(books_rows, key=lambda r: r["server_ts"]):
        books[r["product_id"]].append(
            (r["server_ts"], tuple(r["bids"]), tuple(r["asks"])))
    trades = defaultdict(set)
    for r in trade_rows:
        trades[r["product_id"]].add(
            (r["trade_id"], r["server_ts"], r["sequence"], r["price"],
             r["volume"], r["side"], r["backfilled"]))
    tally = ctx.tally
    tally.check(f"{label}: book rows per product", dict(books), want["books"])
    tally.check(f"{label}: trade rows per product", dict(trades),
                want["trades"])
    final = {p: (list(rows[-1][1]), list(rows[-1][2]))
             for p, rows in books.items()}
    tally.check(f"{label}: final top 15 per product", final,
                want["final_top"])
    tally.check(f"{label}: gap ranges",
                {(r["product_id"], r["gap_first_id"], r["gap_last_id"])
                 for r in gap_rows}, want["gaps"])
    tally.check(f"{label}: backfilled ids",
                {(r["product_id"], r["trade_id"]) for r in trade_rows
                 if r["backfilled"]}, want["backfilled"])
    return {"books": books_rows, "trades": trade_rows, "gaps": gap_rows}


def _count_triggers(ctx: Ctx, result: dict, cap: gen.Capture,
                    label: str) -> None:
    """Every trigger is an operation; the run must take exactly one
    trigger per ``frames_per_trigger`` capture lines."""
    for p in result["progress"]:
        ctx.tally.record(f"{label}: trigger {p['batchId']}", True)
    ctx.tally.check(f"{label}: trigger count", len(result["progress"]),
                    cap.shape.triggers)


# ---------------------------------------------------------------------------
# runs
# ---------------------------------------------------------------------------

def _setup(ctx: Ctx, wl: FeedWorkload,
           measured: int = 0) -> tuple[gen.Capture, str, float]:
    """Generate the capture ``GEN_REPEATS`` times. Returns (capture,
    capture path, median generation seconds)."""
    shape = wl.shape(ctx.seconds, measured)
    gen_s = []
    for _ in range(GEN_REPEATS):
        t0 = time.perf_counter()
        cap = gen.make_capture(ctx.seed, shape)
        path = gen.write_lines(ctx.path("capture.jsonl"), cap.lines)
        gen_s.append(time.perf_counter() - t0)
    return cap, path, median(gen_s)


def _durations(progress: list) -> list[float]:
    return [float(p["durationMs"]["triggerExecution"]) for p in progress]


def _trigger_p50(progress: list) -> float:
    return median(_durations(progress))


def _trigger_metrics(progress: list) -> tuple[float, int, float]:
    pct, tail = tail_percentile(_durations(progress))
    return _trigger_p50(progress), pct, tail


def run(ctx: Ctx, spark_s: float) -> dict:
    """Timed run: every end-to-end metric."""
    wl = WORKLOADS[ctx.workload]
    cap, path, gen_s = _setup(ctx, wl)
    result = drain(ctx, wl, path, "timed")
    _count_triggers(ctx, result, cap, "timed")
    warm_s, window_s, measured = window(result)
    p50, pct, tail = _trigger_metrics(measured)
    ctx.notes.append(f"trigger_tail_ms is p{pct} of {len(measured)} "
                     f"measured triggers")
    frames = sum(p["numInputRows"] for p in measured)
    metrics = {
        "setup_s": (spark_s + gen_s + warm_s, "s"),
        "events_per_s": (frames / window_s, "1/s"),
        "trigger_p50_ms": (p50, "ms"),
        "trigger_tail_ms": (tail, "ms"),
        "pass_s": (window_s, "s"),
    }
    check_sinks(ctx, cap, result["sink"], "timed")
    return metrics


def _files(path: str) -> tuple[int, int]:
    """Parquet data files under one sink and their total bytes."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def _phase(progress: list, key: str) -> float:
    """Total milliseconds of one ``durationMs`` phase over the triggers."""
    return sum(float(p["durationMs"].get(key) or 0) for p in progress)


def _state(progress: list, key: str, last: bool = False) -> float:
    vals = [sum(float(op.get(key) or 0) for op in p["stateOperators"] or [])
            for p in progress]
    return vals[-1] if last else sum(vals)


def run_traced(ctx: Ctx, spark_s: float) -> dict:
    """Traced run: every per-layer metric. Feed layers only; the batch
    layers report zero here."""
    from fictional_guacamole_spark.sources.replay import read_frames_batch
    from fictional_guacamole_spark.streaming.frames import (
        ensure_frame_schema, parse_gdax_frames)

    wl = WORKLOADS[ctx.workload]
    spark = ctx.spark
    spans = Spans(spark.sparkContext)
    cap, path, _gen_s = _setup(ctx, wl, TRACED_TRIGGERS)

    raw = read_frames_batch(spark, path).persist()
    raw.count()
    with spans.span("streaming.frames.parse"):
        (ensure_frame_schema(parse_gdax_frames(raw))
         .write.format("noop").mode("overwrite").save())
    raw.unpersist()

    plain = drain(ctx, wl, path, "reference")
    _count_triggers(ctx, plain, cap, "reference")
    traced = traced_drain(ctx, wl, path, spans, "traced")
    _count_triggers(ctx, traced, cap, "traced")
    rows = check_sinks(ctx, cap, traced["sink"], "traced")
    prog = traced["progress"]
    n_trig = len(prog)

    gap_set = set(cap.gap_triggers)
    sink_groups = spans.groups["streaming.pipeline.sink"]
    sc = spark.sparkContext
    gap_tasks = [spans.group_tasks(g) for b, g in
                 zip(traced["batches"], sink_groups) if b in gap_set]
    plain_tasks = [spans.group_tasks(g) for b, g in
                   zip(traced["batches"], sink_groups) if b not in gap_set]
    kernel_jobs = spans.jobs("operators.book.kernel")
    sink_jobs = spans.jobs("streaming.pipeline.sink")
    frames = sum(p["numInputRows"] for p in prog)

    m = {
        # median trigger against median trigger: the reference drain ran
        # first, so its early triggers are less warm than the traced ones
        "trace.overhead_ratio": (_trigger_p50(window(traced)[2])
                                 / _trigger_p50(window(plain)[2]), "ratio"),
        "sources.replay.latest_offset_ms": (
            _phase(prog, "latestOffset"), "ms"),
        "streaming.frames.parse_s": (
            spans.wall["streaming.frames.parse"], "s"),
        "operators.book.kernel_s": (spans.wall["operators.book.kernel"], "s"),
        "operators.book.emit_ratio": (len(rows["books"]) / frames, "ratio"),
        "state.commit_ms": (_state(prog, "commitTimeMs"), "ms"),
        "state.update_ms": (_state(prog, "allUpdatesTimeMs"), "ms"),
        "state.rows_total": (_state(prog, "numRowsTotal", last=True),
                             "count"),
        "state.memory_bytes": (_state(prog, "memoryUsedBytes", last=True),
                               "bytes"),
        "streaming.pipeline.sink_s": (
            spans.wall["streaming.pipeline.sink"], "s"),
        "streaming.backfill.repaired_rows": (
            sum(1 for r in rows["trades"] if r["backfilled"]), "count"),
        "streaming.backfill.tasks_per_gap_trigger": (
            median(gap_tasks) - median(plain_tasks) if gap_tasks else 0,
            "count"),
        "engine.query_planning_ms": (
            _phase(prog, "queryPlanning"), "ms"),
        "engine.wal_commit_ms": (_phase(prog, "walCommit"), "ms"),
        "engine.jobs_per_trigger": (
            (len(kernel_jobs) + len(sink_jobs)) / n_trig, "count"),
        "engine.tasks_per_trigger": (
            job_tasks(sc, kernel_jobs + sink_jobs) / n_trig, "count"),
    }
    for sub in ("books", "trades", "gaps"):
        files, size = _files(os.path.join(traced["sink"], sub))
        m[f"sink.{sub}.files_written"] = (files, "count")
        m[f"sink.{sub}.bytes_written"] = (size, "bytes")
        # the reference drain wrote the same capture: the exact counters
        # must repeat
        ctx.tally.check(f"sink.{sub} files and bytes repeat across drains",
                        _files(os.path.join(plain["sink"], sub)),
                        (files, size))
    ctx.spans = spans
    return m
