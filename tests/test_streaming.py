"""Streaming-semantics tests (SURVEY.md §5.3): golden-replay of captured
frame sequences through parse (P1–P7) → stateful kernel (T1–T5) →
foreachBatch sinks (K1/K2), gap backfill (T6), and the reference-schema
compat views. Frames follow the protocols documented in FIXTURES.md §A3."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from fictional_guacamole_spark.operators.book import apply_book_kernel
from fictional_guacamole_spark.sources.replay import (
    read_frames_batch, read_frames_stream, write_capture)
from fictional_guacamole_spark.streaming.backfill import backfill_gaps
from fictional_guacamole_spark.streaming.frames import (
    ensure_frame_schema, parse_gdax_frames, parse_polo_frames)
from fictional_guacamole_spark.streaming.pipeline import (
    book_compat_view, create_sink_tables, demux_outputs, export_csv,
    run_pipeline, trades_compat_view)

GDAX_FRAMES = [
    {"type": "snapshot", "product_id": "ETH-USD",
     "bids": [[str(100 - i), "1.5"] for i in range(20)],
     "asks": [[str(101 + i), "2.0"] for i in range(20)],
     "time": "2024-01-05T10:00:00.000001Z"},
    # top-of-book change → must emit
    {"type": "l2update", "product_id": "ETH-USD",
     "changes": [["buy", "100", "3.25"]],
     "time": "2024-01-05T10:00:01.000001Z"},
    # deep-book change (level 20) → suppressed by change-dedup
    {"type": "l2update", "product_id": "ETH-USD",
     "changes": [["buy", "81", "9.9"]],
     "time": "2024-01-05T10:00:02.000001Z"},
    # delete top bid
    {"type": "l2update", "product_id": "ETH-USD",
     "changes": [["buy", "100", "0"]],
     "time": "2024-01-05T10:00:03.000001Z"},
    {"type": "match", "product_id": "ETH-USD", "trade_id": 100,
     "sequence": 900, "price": "100.5", "size": "0.25", "side": "buy",
     "time": "2024-01-05T10:00:04.000001Z"},
    # gap: 101..102 missing
    {"type": "match", "product_id": "ETH-USD", "trade_id": 103,
     "sequence": 903, "price": "100.6", "size": "0.5", "side": "sell",
     "time": "2024-01-05T10:00:05.000001Z"},
    # unknown type silently dropped (P2)
    {"type": "heartbeat", "product_id": "ETH-USD"},
]

POLO_FRAMES = [
    # snapshot: orderBook = [asks_map, bids_map] (polo_ws.py:41-44)
    [148, 1, [["i", {"currencyPair": "BTC_ETH",
                     "orderBook": [{"0.091": "2.0", "0.092": "1.0"},
                                   {"0.090": "5.0", "0.089": "4.0"}]}]]],
    # second product on its own channel — keyed-state isolation
    [149, 1, [["i", {"currencyPair": "BTC_XMR",
                     "orderBook": [{"0.010": "9.0"}, {"0.009": "8.0"}]}]]],
    # one frame, many messages (P3 flatten): delta + trade
    [148, 2, [["o", 1, "0.0905", "1.25"],
              ["t", "7001", 0, "0.0906", "0.5", 1704448800]]],
    # heartbeat-ish frame with no messages
    [1010, 3, []],
    # delta for the second product, resolved via the channel map
    [149, 2, [["o", 0, "0.011", "3.5"]]],
    # trade with a gap (7002 missing)
    [148, 4, [["t", "7003", 1, "0.0907", "0.25", 1704448860]]],
]


@pytest.fixture(scope="module")
def gdax_capture(tmp_path_factory):
    p = tmp_path_factory.mktemp("captures") / "gdax.jsonl"
    return write_capture(str(p), [json.dumps(f) for f in GDAX_FRAMES])


@pytest.fixture(scope="module")
def polo_capture(tmp_path_factory):
    p = tmp_path_factory.mktemp("captures") / "polo.jsonl"
    return write_capture(str(p), [json.dumps(f) for f in POLO_FRAMES])


class TestGdaxParse:
    def test_parse_shapes_and_dispatch(self, spark, gdax_capture):
        raw = read_frames_batch(spark, gdax_capture)
        frames = parse_gdax_frames(raw)
        rows = {r["seq"]: r for r in frames.collect()}
        assert rows[0]["msg_type"] == "snapshot"
        assert len(rows[0]["bids"]) == 20
        assert rows[1]["changes"] == [["buy", "100", "3.25"]]
        assert rows[4]["msg_type"] == "match"
        assert rows[4]["volume"] == "0.25"  # size→volume rename (P4)
        assert rows[6]["msg_type"] == "heartbeat"  # kernel drops it


class TestPoloParse:
    def test_flatten_decode_and_channel_mapping(self, spark, polo_capture):
        raw = read_frames_batch(spark, polo_capture)
        frames = parse_polo_frames(raw)
        rows = frames.orderBy("seq").collect()
        # heartbeat frame (no messages) dropped → 6 messages total
        assert len(rows) == 6
        by_kind = {}
        for r in rows:
            by_kind.setdefault((r["product_id"], r["msg_type"]), []).append(r)
        snap = by_kind[("BTC_ETH", "snapshot")][0]
        # bids/asks unpacked from the price→volume maps, [asks, bids] order
        assert sorted(snap["bids"]) == [["0.089", "4.0"], ["0.090", "5.0"]]
        assert sorted(snap["asks"]) == [["0.091", "2.0"], ["0.092", "1.0"]]
        delta = by_kind[("BTC_ETH", "l2update")][0]
        assert delta["changes"] == [["buy", "0.0905", "1.25"]]
        # second channel resolves to its own pair via the channel map
        delta2 = by_kind[("BTC_XMR", "l2update")][0]
        assert delta2["changes"] == [["sell", "0.011", "3.5"]]
        trade = by_kind[("BTC_ETH", "match")][0]
        assert trade["side"] == "sell"           # 0 → sell (P5)
        assert trade["trade_id"] == 7001
        assert trade["exchange_ts"] is not None  # epoch → timestamp (P5)

    def test_polo_pipeline_end_to_end(self, spark, polo_capture, tmp_path):
        """Full Poloniex path: replay stream → parse → kernel → sinks,
        two products' books maintained independently in one query."""
        frames = ensure_frame_schema(
            parse_polo_frames(read_frames_stream(spark, polo_capture,
                                                 frames_per_batch=3),
                              channel_map={"148": "BTC_ETH",
                                           "149": "BTC_XMR"}))
        sink = str(tmp_path / "polo_sink")
        q = run_pipeline(frames, sink, str(tmp_path / "polo_ckpt"),
                         query_name="polo")
        q.processAllAvailable()
        q.stop()
        books = spark.read.parquet(f"{sink}/books")
        eth = books.filter(F.col("product_id") == "BTC_ETH") \
                   .orderBy("server_ts").collect()
        xmr = books.filter(F.col("product_id") == "BTC_XMR") \
                   .orderBy("server_ts").collect()
        assert eth and xmr
        # ETH book: snapshot then bid upsert at 0.0905
        assert eth[-1]["bids"][0] == "1.25@0.0905"
        # XMR book saw only its own delta (ask inserted at 0.011)
        assert xmr[-1]["asks"] == ["9.0@0.010", "3.5@0.011"]
        assert xmr[-1]["bids"] == ["8.0@0.009"]
        trades = spark.read.parquet(f"{sink}/trades")
        assert trades.count() == 2
        assert trades.filter(F.col("product_id") == "BTC_XMR").count() == 0


class TestMalformedFrames:
    def test_corrupt_lines_dropped_not_fatal(self, spark, tmp_path):
        """P7: truncated/garbage/empty-object frames must be dropped by
        the parse guard (from_json null → filter), never crash the
        pipeline, and never corrupt book state for valid frames."""
        frames = [
            json.dumps({"type": "snapshot", "product_id": "ETH-USD",
                        "bids": [["100", "1"]], "asks": [["101", "1"]],
                        "time": "2024-01-05T10:00:00.000001Z"}),
            '{"type": "l2update", "product_id": "ETH-USD", "changes": [["b',
            "not json at all {{{",
            "{}",
            json.dumps({"type": "l2update", "product_id": "ETH-USD",
                        "changes": [["buy", "100", "7"]],
                        "time": "2024-01-05T10:00:02.000001Z"}),
        ]
        cap = write_capture(str(tmp_path / "corrupt.jsonl"), frames)
        parsed = ensure_frame_schema(
            parse_gdax_frames(read_frames_batch(spark, cap)))
        rows = parsed.orderBy("seq").collect()
        assert [r["msg_type"] for r in rows] == ["snapshot", "l2update"]
        out = apply_book_kernel(parsed)
        books, _, _ = demux_outputs(out)
        final = books.orderBy("server_ts").collect()[-1]
        assert final["bids"] == ["7@100"]


class TestKernelOnSpark:
    def test_batch_kernel_over_parsed_frames(self, spark, gdax_capture):
        raw = read_frames_batch(spark, gdax_capture)
        frames = ensure_frame_schema(parse_gdax_frames(raw))
        out = apply_book_kernel(frames)
        books, trades, gaps = demux_outputs(out)
        book_rows = books.orderBy("server_ts").collect()
        # snapshot + top-change + delete = 3 emits; deep change suppressed
        assert len(book_rows) == 3
        assert book_rows[1]["bids"][0] == "3.25@100"
        assert book_rows[2]["bids"][0] == "1.5@99"   # after delete
        trade_rows = trades.orderBy("trade_id").collect()
        assert [t["trade_id"] for t in trade_rows] == [100, 103]
        assert all(t["backfilled"] is False for t in trade_rows)
        gap_rows = gaps.collect()
        assert len(gap_rows) == 1
        assert (gap_rows[0]["gap_first_id"], gap_rows[0]["gap_last_id"]) == (101, 102)


def canned_fetcher(product_id: str, after_id: int):
    """Pages backwards like ccxt fetch_trades(after=) (redis_worker.py:50-82)."""
    all_trades = {tid: {"trade_id": tid, "price": f"{100 + tid * 0.001:.3f}",
                        "volume": "0.1", "side": "buy",
                        "server_ts": None, "exchange_ts": None}
                  for tid in range(90, 110)}
    page = [all_trades[t] for t in sorted(all_trades) if t < after_id][-100:]
    return sorted(page, key=lambda t: -t["trade_id"])


class TestBackfill:
    def test_gap_repair_rows(self):
        gaps = [{"product_id": "ETH-USD", "gap_first_id": 101,
                 "gap_last_id": 102}]
        repaired = backfill_gaps(gaps, canned_fetcher)
        assert sorted(r["trade_id"] for r in repaired) == [101, 102]
        assert all(r["backfilled"] for r in repaired)
        assert all(r["sequence"] is None for r in repaired)

    def test_unrecoverable_ids_logged_not_fatal(self, caplog):
        gaps = [{"product_id": "ETH-USD", "gap_first_id": 500,
                 "gap_last_id": 501}]  # fetcher has no such ids
        repaired = backfill_gaps(gaps, lambda p, a: [])
        assert repaired == []


class TestStreamingEndToEnd:
    def test_replay_stream_through_pipeline(self, spark, gdax_capture,
                                            tmp_path):
        frames = ensure_frame_schema(
            parse_gdax_frames(read_frames_stream(spark, gdax_capture,
                                                 frames_per_batch=3)))
        sink = str(tmp_path / "sink")
        q = run_pipeline(frames, sink, str(tmp_path / "ckpt"),
                         fetcher=canned_fetcher)
        try:
            # 7 frames / 3 per batch → drain in a few batches
            import time
            deadline = time.time() + 60
            while time.time() < deadline:
                q.processAllAvailable()
                try:
                    n = spark.read.parquet(f"{sink}/trades").count()
                    if n >= 4:
                        break
                except Exception:
                    pass
                time.sleep(0.5)
        finally:
            q.stop()
        trades = spark.read.parquet(f"{sink}/trades")
        live = trades.filter(~F.col("backfilled")).count()
        backfilled = trades.filter(F.col("backfilled")).count()
        assert live == 2
        assert backfilled == 2   # gap 101-102 repaired in-stream
        books = spark.read.parquet(f"{sink}/books")
        assert books.count() == 3
        gaps = spark.read.parquet(f"{sink}/gaps")
        assert gaps.count() == 1
        # flat sinks: one _batch=<id> directory per batch, none per product
        assert sorted(os.listdir(sink)) == ["books", "gaps", "trades"]
        for sub in os.listdir(sink):
            batches = [d for d in os.listdir(os.path.join(sink, sub))
                       if not d.startswith(".")]
            assert batches and all(d.startswith("_batch=") for d in batches)
            for _root, dirs, _files in os.walk(os.path.join(sink, sub)):
                assert not [d for d in dirs if d.startswith("product_id=")]
        # K3: catalog tables over the sinks
        create_sink_tables(spark, sink)
        assert spark.table("exchange_trades").count() == 4

    def test_reprocessing_overwrites_instead_of_duplicating(
            self, spark, gdax_capture, tmp_path):
        """Full reprocess against an existing sink (lost checkpoint, same
        output dir): the _batch-partition dynamic overwrite replaces each
        batch's partition instead of appending duplicates."""
        def run(ckpt: str) -> None:
            frames = ensure_frame_schema(
                parse_gdax_frames(read_frames_stream(spark, gdax_capture,
                                                     frames_per_batch=4)))
            q = run_pipeline(frames, sink, ckpt, query_name=f"rp-{ckpt[-1]}")
            q.processAllAvailable()
            q.stop()

        sink = str(tmp_path / "sink3")
        run(str(tmp_path / "ckptA"))
        run(str(tmp_path / "ckptB"))  # fresh checkpoint, same sink
        trades = spark.read.parquet(f"{sink}/trades")
        assert trades.count() == 2  # replaced, not doubled

    def test_restart_resumes_from_checkpoint(self, spark, gdax_capture,
                                             tmp_path):
        frames = ensure_frame_schema(
            parse_gdax_frames(read_frames_stream(spark, gdax_capture,
                                                 frames_per_batch=4)))
        sink = str(tmp_path / "sink2")
        ckpt = str(tmp_path / "ckpt2")
        q = run_pipeline(frames, sink, ckpt, query_name="p1")
        q.processAllAvailable()
        q.stop()
        # restart on the same checkpoint: no duplicate outputs
        q2 = run_pipeline(frames, sink, ckpt, query_name="p2")
        q2.processAllAvailable()
        q2.stop()
        trades = spark.read.parquet(f"{sink}/trades")
        assert trades.count() == 2  # not doubled


def _batch_frame(spark, rows):
    """A kernel-output micro-batch (OUTPUT_SCHEMA) from partial rows."""
    import datetime as dt

    from fictional_guacamole_spark.operators.book import OUTPUT_SCHEMA

    ts = dt.datetime(2024, 1, 5, 10, 0, 0)
    full = [{"server_ts": ts, "backfilled": False, **r} for r in rows]
    return spark.createDataFrame(full, OUTPUT_SCHEMA)


def _book(pid, bid):
    return {"out_type": "book", "product_id": pid, "bids": [bid],
            "asks": ["1@101"]}


def _trade(pid, tid):
    return {"out_type": "trade", "product_id": pid, "trade_id": tid,
            "sequence": tid, "price": "100", "volume": "1", "side": "buy"}


class TestFlatBatchSinks:
    """Each sink of each micro-batch is one ``<sub>/_batch=<id>``
    directory, overwritten statically: no per-product directories, rows
    sorted by product_id inside every file."""

    def test_rewrite_replaces_only_its_own_batch(self, spark, tmp_path):
        from fictional_guacamole_spark.streaming.pipeline import (
            make_batch_writer)

        sink = str(tmp_path / "sink")
        writer = make_batch_writer(sink)
        writer(_batch_frame(spark, [_trade("A", 1), _trade("B", 2)]), 6)
        writer(_batch_frame(spark, [_trade("A", 3), _trade("B", 4)]), 7)
        writer(_batch_frame(spark, [_trade("C", 5)]), 7)   # replayed id
        trades = spark.read.parquet(f"{sink}/trades")
        got = {(r["_batch"], r["product_id"], r["trade_id"])
               for r in trades.collect()}
        assert got == {(6, "A", 1), (6, "B", 2), (7, "C", 5)}
        assert sorted(os.listdir(f"{sink}/trades")) == [
            "_batch=6", "_batch=7"]

    def test_empty_books_leave_a_readable_batch(self, spark, tmp_path):
        from fictional_guacamole_spark.streaming.pipeline import (
            BOOK_COLS, make_batch_writer)

        sink = str(tmp_path / "sink")
        make_batch_writer(sink)(_batch_frame(spark, [_trade("A", 1)]), 3)
        assert os.path.isdir(f"{sink}/books/_batch=3")
        books = spark.read.parquet(f"{sink}/books")
        assert books.count() == 0
        assert books.columns == BOOK_COLS + ["_batch"]

    def test_files_sorted_by_product(self, spark, tmp_path):
        import pyarrow.parquet as pq

        from fictional_guacamole_spark.streaming.pipeline import (
            make_batch_writer)

        pids = ["P%02d" % (i * 7 % 20) for i in range(40)]
        batch = _batch_frame(
            spark, [_book(p, f"{i}@100") for i, p in enumerate(pids)]
            + [_trade(p, i) for i, p in enumerate(pids)]).repartition(2)
        sink = str(tmp_path / "sink")
        make_batch_writer(sink)(batch, 0)
        for sub in ("books", "trades"):
            cols = [pq.read_table(os.path.join(root, f)).column("product_id")
                    .to_pylist()
                    for root, _dirs, files in os.walk(f"{sink}/{sub}")
                    for f in files if f.endswith(".parquet")]
            assert all(c == sorted(c) for c in cols)
            assert sorted(sum(cols, [])) == sorted(pids)
            assert any(len(set(c)) > 1 for c in cols)   # non-vacuous


class TestTwsBookKernel:
    """The transformWithState port of the flagship kernel
    (operators/book_tws.py): cross-API output equality, the stale-book
    alarm timer, and batch→stream initial-state bootstrap."""

    def _drain(self, spark, frames, sink, ckpt, **kw):
        from fictional_guacamole_spark.plans.windows_streaming import (
            _rocksdb_state_store)
        with _rocksdb_state_store(spark):
            q = run_pipeline(frames, sink, ckpt, **kw)
            try:
                q.processAllAvailable()
            finally:
                q.stop()

    def test_tws_outputs_equal_classic(self, spark, gdax_capture, tmp_path):
        outs = {}
        for kernel in ("classic", "tws"):
            frames = ensure_frame_schema(
                parse_gdax_frames(read_frames_stream(spark, gdax_capture,
                                                     frames_per_batch=3)))
            sink = str(tmp_path / f"sink_{kernel}")
            self._drain(spark, frames, sink, str(tmp_path / f"ck_{kernel}"),
                        kernel=kernel, query_name=f"tws_eq_{kernel}")
            outs[kernel] = {
                sub: sorted(
                    tuple(r) for r in spark.read.parquet(f"{sink}/{sub}")
                    .drop("_batch").collect())
                for sub in ("books", "trades", "gaps")}
        assert outs["classic"] == outs["tws"]

    def test_stale_book_alarm_fires_on_idle_product(self, spark, tmp_path):
        """Event-time staleness: product A's last frame is >1h before the
        final watermark → one stale alarm at last_frame + T; product B's
        last frame IS the watermark → no alarm (its re-armed timer sits
        past the final watermark forever)."""
        base = "2024-01-05T10:00:00.000000Z"
        frames = [
            json.dumps({"type": "snapshot", "product_id": "A",
                        "bids": [["100", "1"]], "asks": [["101", "1"]],
                        "time": base}),
            json.dumps({"type": "snapshot", "product_id": "B",
                        "bids": [["200", "1"]], "asks": [["201", "1"]],
                        "time": base}),
            json.dumps({"type": "l2update", "product_id": "A",
                        "changes": [["buy", "100", "2"]],
                        "time": "2024-01-05T10:00:10.000000Z"}),
            json.dumps({"type": "l2update", "product_id": "B",
                        "changes": [["buy", "200", "2"]],
                        "time": "2024-01-05T12:00:10.000000Z"}),
        ]
        cap = write_capture(str(tmp_path / "stale.jsonl"), frames)
        parsed = ensure_frame_schema(
            parse_gdax_frames(read_frames_stream(spark, cap,
                                                 frames_per_batch=2)))
        sink = str(tmp_path / "stale_sink")
        self._drain(spark, parsed, sink, str(tmp_path / "stale_ckpt"),
                    kernel="tws", stale_after_s=3600,
                    dedupe_horizon="0 seconds", query_name="tws_stale")
        stale = spark.read.parquet(f"{sink}/stale").collect()
        assert [(r["product_id"], str(r["server_ts"])) for r in stale] == [
            ("A", "2024-01-05 11:00:10")]
        # the alarm never perturbs the judged sinks
        assert spark.read.parquet(f"{sink}/books").count() == 4

    def test_bucketed_outputs_equal_per_key(self, spark, gdax_capture,
                                            tmp_path, monkeypatch):
        """The bucketed-key variant (r13 verdict task #2: O(buckets)
        state-protocol round trips instead of O(products)) must produce
        byte-identical sinks to the per-key tws kernel — books, trades,
        gaps AND stale alarms — on the same replay. Buckets=2 with 2+
        products exercises multi-product blobs and the shared
        min-deadline bucket timer."""
        outs = {}
        for label, buckets in (("perkey", None), ("bucketed", "2")):
            if buckets is None:
                monkeypatch.delenv("SPARK_GRAFT_TWS_BUCKETS",
                                   raising=False)
            else:
                monkeypatch.setenv("SPARK_GRAFT_TWS_BUCKETS", buckets)
            frames = ensure_frame_schema(
                parse_gdax_frames(read_frames_stream(spark, gdax_capture,
                                                     frames_per_batch=3)))
            sink = str(tmp_path / f"sink_{label}")
            self._drain(spark, frames, sink,
                        str(tmp_path / f"ck_{label}"),
                        kernel="tws", stale_after_s=3600,
                        dedupe_horizon="0 seconds",
                        query_name=f"tws_bkt_{label}")
            got = {}
            for sub in ("books", "trades", "gaps", "stale"):
                path = f"{sink}/{sub}"
                try:
                    rows = spark.read.parquet(path).drop("_batch").collect()
                except Exception:
                    rows = []
                got[sub] = sorted(tuple(str(v) for v in r) for r in rows)
            outs[label] = got
        monkeypatch.delenv("SPARK_GRAFT_TWS_BUCKETS", raising=False)
        assert outs["perkey"] == outs["bucketed"]
        assert any(outs["perkey"].values())  # non-vacuous comparison

    def test_bucketed_bootstrap_and_stale_alarm(self, spark, tmp_path,
                                                monkeypatch):
        """The silent-bootstrap scenario under bucketing with BOTH
        products in ONE bucket: the shared bucket timer must alarm
        exactly the SILENT product at its per-product deadline while the
        LIVE product's anchor (refreshed by its frame) survives."""
        import datetime as dt

        from fictional_guacamole_spark.operators.book import OrderBook
        from fictional_guacamole_spark.operators.book_tws import (
            apply_book_kernel_tws)
        from fictional_guacamole_spark.plans.windows_streaming import (
            _rocksdb_state_store)

        monkeypatch.setenv("SPARK_GRAFT_TWS_BUCKETS", "1")
        seeded = OrderBook()
        seeded.install_snapshot([["100", "1"]], [["101", "2"]])
        b, a, le, mt = seeded.to_state()
        as_of = dt.datetime(2024, 1, 5, 10, 0, 0)
        init = spark.createDataFrame(
            [("SILENT", b, a, le, mt, as_of),
             ("LIVE", b, a, le, mt, as_of)],
            "product_id string, bids_json string, asks_json string, "
            "last_emitted_json string, max_trade_id long, "
            "as_of_ts timestamp")
        frames = [json.dumps({"type": "l2update", "product_id": "LIVE",
                              "changes": [["buy", "100", "3"]],
                              "time": "2024-01-05T11:00:00.000000Z"})]
        cap = write_capture(str(tmp_path / "bsilent.jsonl"), frames)
        parsed = (ensure_frame_schema(
            parse_gdax_frames(read_frames_stream(spark, cap,
                                                 frames_per_batch=1)))
            .withWatermark("server_ts", "0 seconds"))
        out = apply_book_kernel_tws(parsed, stale_after_s=60,
                                    initial_state=init)
        sink = str(tmp_path / "bsilent_sink")
        with _rocksdb_state_store(spark):
            q = (out.writeStream.format("parquet")
                 .option("path", sink)
                 .option("checkpointLocation", str(tmp_path / "bsilent_ck"))
                 .outputMode("append").queryName("tws_bsilent").start())
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        rows = spark.read.parquet(sink)
        stale = rows.filter(F.col("out_type") == "stale").collect()
        assert [(r["product_id"], str(r["server_ts"])) for r in stale] == [
            ("SILENT", "2024-01-05 10:01:00")]
        # LIVE's seeded book + streamed delta landed despite bucketing
        books = rows.filter(F.col("out_type") == "book").collect()
        assert [(r["product_id"], r["bids"]) for r in books] == [
            ("LIVE", ["3@100"])]

    def test_initial_state_bootstraps_book(self, spark, tmp_path):
        """Batch→stream migration: the book seeds from a batch-computed
        STATE_SCHEMA snapshot; a streamed delta lands on the SEEDED book
        (no snapshot frame ever streams)."""
        from fictional_guacamole_spark.operators.book import OrderBook
        from fictional_guacamole_spark.operators.book_tws import (
            apply_book_kernel_tws)
        from fictional_guacamole_spark.plans.windows_streaming import (
            _rocksdb_state_store)

        seeded = OrderBook()
        seeded.install_snapshot([["100", "1"], ["99", "5"]],
                                [["101", "2"]])
        b, a, le, mt = seeded.to_state()
        init = spark.createDataFrame(
            [("ETH-USD", b, a, le, mt)],
            "product_id string, bids_json string, asks_json string, "
            "last_emitted_json string, max_trade_id long")
        frames = [json.dumps({"type": "l2update", "product_id": "ETH-USD",
                              "changes": [["buy", "100", "3"]],
                              "time": "2024-01-05T10:00:01.000000Z"})]
        cap = write_capture(str(tmp_path / "init.jsonl"), frames)
        parsed = ensure_frame_schema(
            parse_gdax_frames(read_frames_stream(spark, cap,
                                                 frames_per_batch=1)))
        out = apply_book_kernel_tws(parsed, initial_state=init)
        sink = str(tmp_path / "init_sink")
        with _rocksdb_state_store(spark):
            q = (out.writeStream.format("parquet")
                 .option("path", sink)
                 .option("checkpointLocation", str(tmp_path / "init_ckpt"))
                 .outputMode("append").queryName("tws_init").start())
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        books = (spark.read.parquet(sink)
                 .filter(F.col("out_type") == "book").collect())
        assert len(books) == 1
        assert books[0]["bids"] == ["3@100", "5@99"]   # seeded + delta
        assert books[0]["asks"] == ["2@101"]           # seeded only

    def test_bootstrapped_silent_product_raises_stale_alarm(self, spark,
                                                            tmp_path):
        """A product seeded via handleInitialState whose feed never
        streams a frame is the dead-feed case the stale alarm exists
        for: its timer arms from the initial state's as_of_ts cut point
        and fires when the watermark passes it. The streamed product's
        own (re-armed) timer sits past the final watermark — no alarm."""
        import datetime as dt

        from fictional_guacamole_spark.operators.book import OrderBook
        from fictional_guacamole_spark.operators.book_tws import (
            apply_book_kernel_tws)
        from fictional_guacamole_spark.plans.windows_streaming import (
            _rocksdb_state_store)

        seeded = OrderBook()
        seeded.install_snapshot([["100", "1"]], [["101", "2"]])
        b, a, le, mt = seeded.to_state()
        as_of = dt.datetime(2024, 1, 5, 10, 0, 0)
        init = spark.createDataFrame(
            [("SILENT", b, a, le, mt, as_of),
             ("LIVE", b, a, le, mt, as_of)],
            "product_id string, bids_json string, asks_json string, "
            "last_emitted_json string, max_trade_id long, "
            "as_of_ts timestamp")
        frames = [json.dumps({"type": "l2update", "product_id": "LIVE",
                              "changes": [["buy", "100", "3"]],
                              "time": "2024-01-05T11:00:00.000000Z"})]
        cap = write_capture(str(tmp_path / "silent.jsonl"), frames)
        parsed = (ensure_frame_schema(
            parse_gdax_frames(read_frames_stream(spark, cap,
                                                 frames_per_batch=1)))
            .withWatermark("server_ts", "0 seconds"))
        out = apply_book_kernel_tws(parsed, stale_after_s=60,
                                    initial_state=init)
        sink = str(tmp_path / "silent_sink")
        with _rocksdb_state_store(spark):
            q = (out.writeStream.format("parquet")
                 .option("path", sink)
                 .option("checkpointLocation", str(tmp_path / "silent_ck"))
                 .outputMode("append").queryName("tws_silent").start())
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        rows = spark.read.parquet(sink)
        stale = rows.filter(F.col("out_type") == "stale").collect()
        # SILENT alarms at cut point + 60s; LIVE's re-armed timer is past
        # the final watermark (11:00) and never fires
        assert [(r["product_id"], str(r["server_ts"])) for r in stale] == [
            ("SILENT", "2024-01-05 10:01:00")]


class _TwsCountProcessor:
    """Minimal tws processor for the serializer tripwire: counts rows per
    key, touches no state. Defined at module scope so cloudpickle's
    by-value registration can ship it; the crash under test happens in
    the INPUT serializer, before this code ever runs."""


def _build_tws_count_processor():
    from fictional_guacamole_spark.operators.gap_alarm import (
        _ensure_protobuf)
    _ensure_protobuf(required=True)
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class P(StatefulProcessor, _TwsCountProcessor):
        def __init__(self):
            # a non-empty __dict__ is load-bearing: pickle skips
            # __setstate__ entirely for stateless instances, and the
            # protobuf fallback must run at unpickle time in the
            # driver-side worker
            self.tag = "tripwire"

        def __setstate__(self, state):
            _ensure_protobuf()
            self.__dict__.update(state)

        def init(self, handle):
            self.seen = handle.getValueState("seen", "n long")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as _pd
            n = sum(len(pdf) for pdf in rows)
            prev = self.seen.get()[0] if self.seen.exists() else 0
            self.seen.update((prev + n,))
            yield _pd.DataFrame({"k": [key[0]], "n": [prev + n]})

        def close(self):
            pass

    return P()


class TestTwsNestedArrayTripwire:
    """UPSTREAM-BUG TRIPWIRE (r13 verdict task #4). This test passes
    BECAUSE pyspark's transformWithStateInPandas input serializer
    (sql/pandas/serializers.py row_stream → per-row arrow_to_pandas)
    segfaults on array<array<string>> input columns whenever a grouping
    key spans more than one row in a batch. book_tws.py works around it
    by JSON-encoding the nested level arrays across the Arrow boundary
    (_NESTED_COLS, book_tws.py:139-141,198-199) — an extra encode/decode
    per frame. When a pyspark upgrade fixes the serializer, the nested
    leg below will succeed, this test will FAIL LOUDLY, and the JSON
    detour should be retired."""

    def _run(self, spark, tmp_path, tag, nested):
        import sys

        from pyspark import cloudpickle
        from pyspark.sql.types import (ArrayType, LongType, StringType,
                                       StructField, StructType)

        from fictional_guacamole_spark.operators import gap_alarm as _ga
        from fictional_guacamole_spark.plans.windows_streaming import (
            _rocksdb_state_store)

        cloudpickle.register_pickle_by_value(sys.modules[_ga.__name__])
        cloudpickle.register_pickle_by_value(sys.modules[__name__])

        lvl = ArrayType(ArrayType(StringType())) if nested \
            else ArrayType(StringType())
        schema = StructType([StructField("k", LongType()),
                             StructField("levels", lvl)])
        # the minimal repro shape: TWO rows under ONE grouping key
        val = [["1", "2"]] if nested else ["1", "2"]
        src = tmp_path / f"src_{tag}"
        spark.createDataFrame([(1, val), (1, val)], schema) \
            .coalesce(1).write.parquet(str(src))

        stream = spark.readStream.schema(schema).parquet(str(src))
        out = (stream.groupBy("k").transformWithStateInPandas(
            _build_tws_count_processor(),
            outputStructType="k long, n long",
            outputMode="append", timeMode="none"))
        with _rocksdb_state_store(spark):
            q = (out.writeStream.format("memory")
                 .queryName(f"tws_tripwire_{tag}")
                 .option("checkpointLocation", str(tmp_path / f"ck_{tag}"))
                 .outputMode("append").start())
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        return {(r["k"], r["n"])
                for r in spark.table(f"tws_tripwire_{tag}").collect()}

    def test_nested_array_input_still_crashes_the_worker(self, spark,
                                                         tmp_path):
        import pytest
        from pyspark.errors.exceptions.base import PySparkException

        # control leg: the SAME frames with a flat array<string> column
        # must drain fine — if this leg fails, the environment (not the
        # serializer bug) is broken and the tripwire is inconclusive
        assert self._run(spark, tmp_path, "flat", nested=False) == {(1, 2)}

        # tripwire leg: array<array<string>> with a key spanning 2 rows
        try:
            got = self._run(spark, tmp_path, "nested", nested=True)
        except PySparkException:
            return  # the upstream bug is still present — workaround stands
        pytest.fail(
            "pyspark's transformWithStateInPandas serializer now handles "
            f"array<array<string>> input (drained {got}) — the upstream "
            "segfault is FIXED. Retire the JSON-text detour in "
            "operators/book_tws.py (_NESTED_COLS: to_json at the wiring, "
            "json.loads in the processor) and route the nested level "
            "arrays across the Arrow boundary natively.")


class TestStateTtl:
    def test_ttl_stream_produces_same_active_output(self, spark,
                                                    gdax_capture, tmp_path):
        """With a long TTL no eviction fires mid-run: outputs must equal
        the no-TTL run (the TTL wiring is exercised end-to-end; eviction
        semantics == reconnect re-snapshot, per make_book_kernel)."""
        from fictional_guacamole_spark.operators.book import apply_book_kernel
        frames = ensure_frame_schema(
            parse_gdax_frames(read_frames_stream(spark, gdax_capture,
                                                 frames_per_batch=100)))
        out = apply_book_kernel(frames, state_ttl_ms=3_600_000)
        # availableNow: drain everything then stop — processAllAvailable
        # never settles once processing-time timeouts are registered
        q = (out.writeStream.format("memory").queryName("ttl_books")
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True)
             .start())
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
        rows = spark.table("ttl_books")
        assert rows.filter(F.col("out_type") == "book").count() == 3
        assert rows.filter(F.col("out_type") == "trade").count() == 2
        assert rows.filter(F.col("out_type") == "gap").count() == 1

    def test_tws_value_state_ttl_expires_between_batches(self, spark,
                                                         tmp_path):
        """transformWithState TTLConfig: a ValueState behind a 10ms TTL
        reads as ABSENT in the next paced micro-batch (the key is reborn)
        while its no-TTL sibling persists — per-batch vs cumulative
        counts diverge from batch 2 on."""
        import time

        from fictional_guacamole_spark.operators.ttl_counter import (
            TTL_COUNTER_INPUT, apply_ttl_counter)
        from fictional_guacamole_spark.plans.windows_streaming import (
            _rocksdb_state_store)

        src = tmp_path / "src"
        src.mkdir()
        rows1 = [(7, 1, i) for i in range(3)]       # batch 1: 3 events
        rows2 = [(7, 2, i) for i in range(3, 5)]    # batch 2: 2 events
        for b, rows in ((1, rows1), (2, rows2)):
            spark.createDataFrame(rows, TTL_COUNTER_INPUT).coalesce(1) \
                .write.parquet(str(src / f"b{b}"))
        files = sorted(str(p) for b in (1, 2)
                       for p in (src / f"b{b}").glob("*.parquet"))
        base = tmp_path / "stream"
        base.mkdir()
        for i, f in enumerate(files):
            dst = base / f"part-{i:05d}.parquet"
            dst.write_bytes(open(f, "rb").read())
            import os
            os.utime(dst, (1000 + i, 1000 + i))

        landed = {"n": 0}
        outdir = str(tmp_path / "out")

        def land(batch_df, batch_id):
            if batch_df.isEmpty():
                return
            batch_df.write.mode("append").parquet(outdir)
            landed["n"] += 1
            time.sleep(0.2)   # >> ttl: next batch timestamp clears it

        stream = (spark.readStream.schema(TTL_COUNTER_INPUT)
                  .option("maxFilesPerTrigger", "1")
                  .parquet(str(base)))
        with _rocksdb_state_store(spark):
            q = (apply_ttl_counter(stream, ttl_ms=10).writeStream
                 .foreachBatch(land).outputMode("append")
                 .option("checkpointLocation", str(tmp_path / "ck_ttl"))
                 .queryName("tws_ttl").start())
            try:
                deadline = time.time() + 120
                while landed["n"] < 2 and time.time() < deadline:
                    time.sleep(0.1)
            finally:
                q.stop()
        got = {r["bucket"]: (r["n_batch"], r["n_total"])
               for r in spark.read.parquet(outdir).collect()}
        # TTL state reborn in batch 2 (3→2, not 3→5); no-TTL accumulates
        assert got == {1: (3, 3), 2: (2, 5)}


class TestMetricsListener:
    def test_progress_metrics_recorded(self, spark, gdax_capture, tmp_path):
        from fictional_guacamole_spark.streaming.monitoring import (
            attach_metrics, detach_metrics)
        log = str(tmp_path / "metrics.jsonl")
        listener = attach_metrics(spark, log)
        try:
            frames = ensure_frame_schema(
                parse_gdax_frames(read_frames_stream(spark, gdax_capture,
                                                     frames_per_batch=4)))
            q = run_pipeline(frames, str(tmp_path / "s"),
                             str(tmp_path / "c"), query_name="metered")
            q.processAllAvailable()
            q.stop()
        finally:
            detach_metrics(spark, listener)
        events = [json.loads(ln) for ln in open(log)]
        kinds = {e["event"] for e in events}
        assert "started" in kinds and "progress" in kinds
        prog = [e for e in events if e["event"] == "progress"
                and e["num_input_rows"] > 0]
        assert prog, "no non-empty batch progress recorded"
        assert any(so["rows_total"] > 0
                   for e in prog for so in e["state_operators"]), \
            "stateful operator metrics missing"


class TestCompatViews:
    def test_book_compat_34_columns(self, spark, gdax_capture):
        raw = read_frames_batch(spark, gdax_capture)
        frames = ensure_frame_schema(parse_gdax_frames(raw))
        books, _, _ = demux_outputs(apply_book_kernel(frames))
        compat = book_compat_view(books)
        assert compat.columns == (
            ["server_datetime", "product_id"]
            + [f"bids_{i}" for i in range(1, 16)]
            + [f"asks_{i}" for i in range(1, 16)])
        row = compat.orderBy("server_datetime").collect()[1]
        assert row["bids_1"] == "3.25@100"        # volume@price packing
        assert row["product_id"] == "ETH-USD"
        assert "T" in row["server_datetime"]      # ISO-ish format

    def test_trades_compat_text_shape(self, spark, gdax_capture, tmp_path):
        raw = read_frames_batch(spark, gdax_capture)
        frames = ensure_frame_schema(parse_gdax_frames(raw))
        _, trades, _ = demux_outputs(apply_book_kernel(frames))
        compat = trades_compat_view(trades)
        # exact column order of the reference DDL (gdax_schema.sql:43-53)
        assert compat.columns == [
            "server_datetime", "exchange_datetime", "sequence", "trade_id",
            "product_id", "price", "volume", "side", "backfilled"]
        rows = {r["trade_id"]: r for r in compat.collect()}
        assert rows["100"]["backfilled"] == "False"
        assert rows["100"]["sequence"] == "900"
        # K4: csv export round-trip
        export_csv(compat, str(tmp_path / "csv"))
        back = spark.read.option("header", True).csv(str(tmp_path / "csv"))
        assert back.count() == 2


class TestTwsBucketMarker:
    """The bucket count is baked into the tws state grouping key; a resume
    under a different layout must fail loudly (r14 advice)."""

    def test_marker_pins_layout_across_restarts(self, tmp_path, monkeypatch):
        from fictional_guacamole_spark.operators.book_tws import (
            check_bucket_marker)
        import pytest

        ckpt = str(tmp_path / "ck")
        monkeypatch.delenv("SPARK_GRAFT_TWS_BUCKETS", raising=False)
        check_bucket_marker(ckpt)               # first start: per-key
        check_bucket_marker(ckpt)               # same layout resumes fine
        with pytest.raises(ValueError, match="state-layout mismatch"):
            check_bucket_marker(ckpt, buckets=64)   # toggled to bucketed
        ckpt2 = str(tmp_path / "ck2")
        check_bucket_marker(ckpt2, buckets=64)  # bucketed from birth
        check_bucket_marker(ckpt2, buckets=64)
        with pytest.raises(ValueError, match="state-layout mismatch"):
            check_bucket_marker(ckpt2, buckets=128)  # count changed
        # env-derived count participates identically
        monkeypatch.setenv("SPARK_GRAFT_TWS_BUCKETS", "64")
        check_bucket_marker(ckpt2)

    def test_non_local_checkpoint_skipped_with_warning(self, caplog):
        from fictional_guacamole_spark.operators.book_tws import (
            check_bucket_marker)

        with caplog.at_level("WARNING"):
            check_bucket_marker("hdfs://nn/ck", buckets=8)
        assert any("marker skipped" in r.message for r in caplog.records)
