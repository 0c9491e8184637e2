"""Self-tests of the benchmark's own code; none starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.stats import Tally, tail_percentile  # noqa: E402

SHAPE = gen.FeedShape(products=8, frames_per_trigger=60, triggers=12,
                      levels=30, deep_share=0.2, top_share=0.6,
                      gap_every=3)


def test_same_seed_gives_byte_identical_capture(tmp_path):
    a = gen.write_lines(str(tmp_path / "a.jsonl"),
                        gen.make_capture(5, SHAPE).lines)
    b = gen.write_lines(str(tmp_path / "b.jsonl"),
                        gen.make_capture(5, SHAPE).lines)
    c = gen.write_lines(str(tmp_path / "c.jsonl"),
                        gen.make_capture(6, SHAPE).lines)
    with open(a, "rb") as fa, open(b, "rb") as fb, open(c, "rb") as fc:
        first, second, other = fa.read(), fb.read(), fc.read()
    assert first == second
    assert first != other


def test_same_seed_gives_identical_tables(tmp_path):
    import pyarrow.parquet as pq

    gen.make_tables(3, str(tmp_path / "a"), orders=300, docs=40, vectors=30)
    gen.make_tables(3, str(tmp_path / "b"), orders=300, docs=40, vectors=30)
    for name in ("lineitem", "documents", "embeddings"):
        assert pq.read_table(tmp_path / "a" / f"{name}.parquet").equals(
            pq.read_table(tmp_path / "b" / f"{name}.parquet"))


def test_planted_gap_trigger_share_is_exact():
    cap = gen.make_capture(11, SHAPE)
    assert cap.gap_triggers == [2, 5, 8, 11]
    assert len(cap.gap_triggers) / SHAPE.triggers == pytest.approx(1 / 3)
    # each gap is planted by a trade inside its own trigger's lines, and
    # no other trigger skips a trade id
    skips = Counter()
    last: dict[str, int] = {}
    for rec in cap.records:
        if rec["msg_type"] != "match":
            continue
        pid, tid = rec["product_id"], rec["trade_id"]
        if pid in last and tid != last[pid] + 1:
            skips[rec["seq"] // SHAPE.frames_per_trigger] += 1
            assert (pid, last[pid] + 1, tid - 1) in cap.gaps
        last[pid] = tid
    assert sorted(skips) == cap.gap_triggers
    assert set(skips.values()) == {1}


def test_no_gaps_without_gap_share():
    shape = gen.FeedShape(4, 50, 5, 30, 0.8, 0.1)
    cap = gen.make_capture(1, shape)
    assert cap.gaps == [] and cap.gap_triggers == []


def test_final_top_is_a_sorted_top_15():
    cap = gen.make_capture(2, SHAPE)
    for bids, asks in cap.final_top.values():
        assert len(bids) == len(asks) == gen.BOOK_DEPTH
        bid_px = [float(b.split("@")[1]) for b in bids]
        ask_px = [float(a.split("@")[1]) for a in asks]
        assert bid_px == sorted(bid_px, reverse=True)
        assert ask_px == sorted(ask_px)
        assert bid_px[0] < ask_px[0]


@pytest.mark.parametrize("n,pct", [(100, 90), (20, 50), (11, 9), (40, 75)])
def test_tail_percentile_is_highest_with_ten_beyond(n, pct):
    values = [float(v) for v in range(n, 0, -1)]    # unsorted input
    got_pct, value = tail_percentile(values)
    assert got_pct == pct
    assert sum(v > value for v in values) >= 10
    # one percent higher would leave fewer than ten beyond it
    rank = -(-(pct + 1) * n // 100)
    assert n - rank < 10


def test_tail_percentile_needs_eleven_samples():
    with pytest.raises(ValueError):
        tail_percentile([1.0] * 10)


def test_error_rate_counts_a_failed_output_check():
    tally = Tally()
    tally.record("trigger 0", True)
    assert tally.check("rows", [1, 2], [1, 2])
    assert not tally.check("top 15", ["a"], ["b"])
    assert (tally.attempted, tally.failed) == (3, 1)
    assert tally.error_rate == pytest.approx(1 / 3)
    assert tally.failures[0].startswith("top 15")


def _write_sinks(sink: str, want: dict) -> None:
    """Write the expected outputs the way the pipeline lays them out:
    parquet under ``_batch=<id>/product_id=<p>/``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def put(sub: str, pid: str, rows: list[dict]) -> None:
        d = os.path.join(sink, sub, "_batch=0", f"product_id={pid}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.Table.from_pylist(rows),
                       os.path.join(d, "part-0.parquet"))

    for pid, rows in want["books"].items():
        put("books", pid, [{"server_ts": ts, "bids": list(b),
                            "asks": list(a)} for ts, b, a in rows])
    for pid, rows in want["trades"].items():
        put("trades", pid, [
            {"server_ts": ts, "trade_id": tid, "sequence": seq,
             "price": px, "volume": vol, "side": side, "backfilled": bf}
            for tid, ts, seq, px, vol, side, bf in sorted(rows)])
    for pid, first, last in want["gaps"]:
        put("gaps", pid, [{"gap_first_id": first, "gap_last_id": last}])


def test_sink_check_passes_on_expected_and_counts_a_defect(tmp_path):
    from perfbench import feeds
    from perfbench.harness import Ctx

    cap = gen.make_capture(4, SHAPE)
    want = feeds.expected_outputs(cap)
    assert want["backfilled"] and want["gaps"]
    good = str(tmp_path / "good")
    _write_sinks(good, want)
    ctx = Ctx("feed_many_books", 4, 1.0, False, 0.0)
    feeds.check_sinks(ctx, cap, good, "good")
    assert (ctx.tally.attempted, ctx.tally.failed) == (5, 0)

    # drop one backfilled trade: the trade and backfill checks both fail
    pid, tid = sorted(want["backfilled"])[0]
    want["trades"][pid] = {r for r in want["trades"][pid] if r[0] != tid}
    bad = str(tmp_path / "bad")
    _write_sinks(bad, want)
    feeds.check_sinks(ctx, cap, bad, "bad")
    assert (ctx.tally.attempted, ctx.tally.failed) == (10, 2)
    assert ctx.tally.error_rate == pytest.approx(0.2)


def test_benchmark_json_names_every_metric_once():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    e2e = {m["name"] for m in spec["end_to_end"]}
    assert e2e == {"setup_s", "events_per_s", "trigger_p50_ms",
                   "trigger_tail_ms", "pass_s", "peak_rss_mb"}
    from perfbench import batch, feeds
    known = set(feeds.WORKLOADS) | set(batch.WORKLOADS)
    assert {w["name"] for w in spec["workloads"]} <= known


def test_timed_runs_take_fixed_sample_counts():
    """Every timed run's medians and tails cover the same samples: the
    feed window holds enough triggers for the tail rule and exactly one
    gap trigger; the dedup run measures a fixed number of passes."""
    from perfbench import batch, feeds

    wl = feeds.WORKLOADS["feed_many_books"]
    for seconds in (1.0, 10.0):
        shape = wl.shape(seconds)
        measured = shape.triggers - feeds.WARMUP_TRIGGERS
        assert measured == wl.min_triggers
        tail_percentile([float(i) for i in range(measured)])
        gaps = [t for t in gen.expected_gap_triggers(shape)
                if t >= feeds.WARMUP_TRIGGERS]
        assert len(gaps) == 1
    traced = wl.shape(10.0, feeds.TRACED_TRIGGERS)
    assert gen.expected_gap_triggers(traced)
    dedup = batch.WORKLOADS["corpus_dedup"]
    assert dedup.passes(1.0) == dedup.passes(10.0) == batch.MIN_PASSES
