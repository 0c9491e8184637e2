"""Seeded input generators: exchange captures for the feed workloads and
fixture-shaped parquet tables for the batch workloads.

Everything here is a pure function of its arguments: the same seed and
shape give byte-identical captures and tables. The generator keeps its own
model of every book (a plain dict of price levels), so the final top 15
it reports is computed independently of the engine's kernel.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from dataclasses import dataclass

BOOK_DEPTH = 15
TICKS_PER_UNIT = 100            # prices on a 0.01 grid
BASE_TIME = dt.datetime(2024, 1, 5)


@dataclass(frozen=True)
class FeedShape:
    """How a capture is laid out. A trigger is ``frames_per_trigger``
    consecutive capture lines: the replay source reads exactly that many
    per micro-batch."""

    products: int
    frames_per_trigger: int
    triggers: int
    levels: int                 # price levels per side in the snapshot
    deep_share: float           # L2 deltas at Pareto depth
    top_share: float            # L2 deltas inside the top 3 levels
    # the rest are trades; gaps go into every ``gap_every``-th trigger
    gap_every: int = 0          # 0 = no gaps
    gap_width: int = 3


@dataclass
class Capture:
    shape: FeedShape
    lines: list[str]            # JSON text frames, one per capture line
    records: list[dict]         # the same frames in FRAME_SCHEMA shape
    gaps: list[tuple[str, int, int]]   # planted (product, first, last) ids
    gap_triggers: list[int]     # trigger index of each planted gap
    # the generator's own top 15 (bids, asks) per product at the end
    final_top: dict[str, tuple[list[str], list[str]]]


def product_ids(n: int) -> list[str]:
    return [f"P{i:02d}-USD" for i in range(n)]


def _price(ticks: int) -> str:
    return f"{ticks // TICKS_PER_UNIT}.{ticks % TICKS_PER_UNIT:02d}"


def _time(line: int) -> tuple[str, int]:
    """Exchange time of capture line ``line``: one millisecond apart, so
    every frame has a distinct timestamp. Returns (ISO text, epoch µs)."""
    t = BASE_TIME + dt.timedelta(milliseconds=line)
    micros = int((t - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000 \
        + t.microsecond
    return t.strftime("%Y-%m-%dT%H:%M:%S.%fZ"), micros


def _top(levels: dict[int, str], bids: bool) -> list[str]:
    keys = sorted(levels, reverse=bids)[:BOOK_DEPTH]
    return [f"{levels[k]}@{_price(k)}" for k in keys]


def make_capture(seed: int, shape: FeedShape) -> Capture:
    """Generate one capture. The first ``products`` lines are snapshots;
    every later line is an L2 delta or a trade, product chosen uniformly.
    Trade ids are contiguous per product except for one planted gap of
    ``gap_width`` ids in the middle frame of every ``gap_every``-th
    trigger, placed on a product that has traded before, so the kernel's
    first-trade rule never hides it."""
    rng = random.Random(seed)
    pids = product_ids(shape.products)
    n_lines = shape.frames_per_trigger * shape.triggers
    if n_lines < shape.products:
        raise ValueError("capture too short for one snapshot per product")
    mids = {p: 100_000 + 1_000 * i for i, p in enumerate(pids)}
    bids: dict[str, dict[int, str]] = {}
    asks: dict[str, dict[int, str]] = {}
    last_trade: dict[str, int] = {}
    lines: list[str] = []
    records: list[dict] = []
    gaps: list[tuple[str, int, int]] = []
    gap_triggers: list[int] = []
    gap_set = set(expected_gap_triggers(shape))
    seq = 0

    def vol() -> str:
        return f"{rng.randint(1, 5000) / 1000:.3f}"

    for i in range(n_lines):
        text, micros = _time(i)
        trigger = i // shape.frames_per_trigger
        base = {"seq": i, "server_ts": micros, "exchange_ts": micros,
                "bids": None, "asks": None, "changes": None,
                "trade_id": None, "sequence": None, "price": None,
                "volume": None, "side": None}
        if i < shape.products:
            p = pids[i]
            m = mids[p]
            bids[p] = {m - k: vol() for k in range(1, shape.levels + 1)}
            asks[p] = {m + k: vol() for k in range(1, shape.levels + 1)}
            b = [[_price(k), v] for k, v in bids[p].items()]
            a = [[_price(k), v] for k, v in asks[p].items()]
            frame = {"type": "snapshot", "product_id": p, "bids": b,
                     "asks": a, "time": text}
            rec = dict(base, msg_type="snapshot", product_id=p, bids=b,
                       asks=a)
        else:
            force_gap = (trigger in gap_set and i % shape.frames_per_trigger
                         == shape.frames_per_trigger // 2)
            r = rng.random()
            if not force_gap and r < shape.deep_share + shape.top_share:
                p = rng.choice(pids)
                if r < shape.deep_share:
                    depth = min(shape.levels - 1,
                                int(12 * rng.paretovariate(1.2)))
                else:
                    depth = rng.randrange(3)
                is_bid = rng.random() < 0.5
                side = "buy" if is_bid else "sell"
                ticks = mids[p] - depth - 1 if is_bid else mids[p] + depth + 1
                book = bids[p] if is_bid else asks[p]
                v = "0" if ticks in book and rng.random() < 0.2 else vol()
                if v == "0":
                    del book[ticks]
                else:
                    book[ticks] = v
                change = [[side, _price(ticks), v]]
                frame = {"type": "l2update", "product_id": p,
                         "changes": change, "time": text}
                rec = dict(base, msg_type="l2update", product_id=p,
                           changes=change)
            else:
                if force_gap:
                    if not last_trade:
                        raise ValueError("gap planted before any trade")
                    # the gap goes on a product that has already traded
                    p = rng.choice(sorted(last_trade))
                    first = last_trade[p] + 1
                    tid = first + shape.gap_width
                    gaps.append((p, first, tid - 1))
                    gap_triggers.append(trigger)
                else:
                    p = rng.choice(pids)
                    tid = last_trade.get(p, 1_000_000 * (pids.index(p) + 1)) + 1
                last_trade[p] = tid
                seq += 1
                px = _price(mids[p] + rng.choice((-1, 1)))
                size, side = vol(), rng.choice(("buy", "sell"))
                frame = {"type": "match", "product_id": p, "trade_id": tid,
                         "sequence": seq, "price": px, "size": size,
                         "side": side, "time": text}
                rec = dict(base, msg_type="match", product_id=p,
                           trade_id=tid, sequence=seq, price=px,
                           volume=size, side=side)
        lines.append(json.dumps(frame, separators=(",", ":")))
        records.append(rec)
    expected = expected_gap_triggers(shape)
    if gap_triggers != expected:
        raise RuntimeError(f"planted gaps in triggers {gap_triggers}, "
                           f"expected {expected}")
    final = {p: (_top(bids[p], True), _top(asks[p], False)) for p in pids}
    return Capture(shape, lines, records, gaps, gap_triggers, final)


def expected_gap_triggers(shape: FeedShape) -> list[int]:
    if not shape.gap_every:
        return []
    return [t for t in range(1, shape.triggers)
            if t % shape.gap_every == shape.gap_every - 1]


def write_lines(path: str, lines: list[str]) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")
    return path


def fetch_trades(product_id: str, after_id: int) -> list[dict]:
    """Deterministic in-process REST stand-in: the page of up to 100
    trades with ids below ``after_id``, newest first, each a pure
    function of (product, id)."""
    return [{"trade_id": t, "price": f"{t % 997 + 1}.50",
             "volume": "0.010", "side": "buy" if t % 2 else "sell",
             "server_ts": None, "exchange_ts": None}
            for t in range(after_id - 1, max(0, after_id - 101), -1)]


# ---------------------------------------------------------------------------
# Batch tables (the schemas of fictional_guacamole_spark.tables.SCHEMAS)
# ---------------------------------------------------------------------------

_STEMS = ("a the row scan slow fast table value part hash merge batch key "
          "agg spark line sort window order data column join small big "
          "customer query stream group filter").split()
# a vocabulary wide enough that two fresh texts share few words: only the
# planted variants are near or semantic duplicates, so the cascade's work
# does not swing with the seed
_WORDS = tuple(f"{w}{i}" for w in _STEMS for i in range(12))
_LANGS = ("en", "en", "en", "zh", "es", "de", "fr")


def make_tables(seed: int, out_dir: str, orders: int = 20_000,
                docs: int = 2_000, vectors: int = 1_000) -> dict[str, str]:
    """Write the ten fixture tables as parquet under ``out_dir``.

    Sizes scale from ``orders`` as the fixture's do (4 line items and
    0.1 customers per order). ``documents`` mixes fresh texts with exact
    copies, one-word edits, reorderings and copies that keep only their
    first half, so every stage of the dedup cascade has work and some LSH
    candidates fail verification; ``embeddings`` mixes fresh unit vectors with small
    perturbations of earlier ones, so semantic dedup finds clusters."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = orders // 10, max(10, orders // 150), orders // 8
    n_li = orders * 4
    n_ev, n_users = orders * 2 // 3, max(10, orders // 100)
    day = 86_400_000_000
    t1992 = int((dt.datetime(1992, 1, 1)
                 - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    t2024 = int((dt.datetime(2024, 1, 1)
                 - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    ts = pa.timestamp("us")

    def money(n, lo, hi):
        return np.round(rng.uniform(lo, hi, n), 2)

    o_date = t1992 + rng.integers(0, 2_900, orders) * day
    li_order = rng.integers(0, orders, n_li)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(n_cust, -999, 9_999),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                 "MACHINERY"], n_cust)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(n_supp, -999, 9_999)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"part {i}" for i in range(n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n_part)],
            "p_type": rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE",
                                  "ECONOMY", "PROMO"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": money(n_part, 900, 2_100)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, orders), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], orders),
            "o_totalprice": money(orders, 900, 500_000),
            "o_orderdate": pa.array(o_date, ts),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                 "5-LOW"], orders)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(li_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(float),
            "l_extendedprice": money(n_li, 900, 100_000),
            "l_discount": rng.integers(0, 11, n_li) / 100,
            "l_tax": rng.integers(0, 9, n_li) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": pa.array(
                o_date[li_order] + rng.integers(1, 122, n_li) * day, ts)}),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(np.sort(t2024 + rng.integers(0, 30 * day, n_ev)),
                           ts),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": rng.choice(
                ["signup", "error", "click", "view", "purchase"], n_ev),
            "value": money(n_ev, 0, 50),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        "documents": _documents(rng, docs),
        "embeddings": _embeddings(rng, vectors),
    }
    paths = {}
    for name, tbl in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, paths[name])
    return paths


def _documents(rng, n: int):
    import pyarrow as pa

    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        r = rng.random()
        if i < 10 or r < 0.55:
            words = list(rng.choice(_WORDS, int(rng.integers(10, 70))))
            originals.append(i)
        else:
            # variants derive from fresh texts only, so every duplicate
            # cluster is a star and the cascade's component passes need
            # the same number of rounds whatever the seed
            words = texts[originals[int(rng.integers(0, len(originals)))]
                          ].split()
            if r < 0.67:
                pass                                    # exact copy
            elif r < 0.82:                              # one-word edit
                words[int(rng.integers(0, len(words)))] = str(
                    rng.choice(_WORDS))
            elif r < 0.91:                              # reordering
                words = list(rng.permutation(words))
            else:                                       # half kept
                words = words[:len(words) // 2] + list(
                    rng.choice(_WORDS, len(words) - len(words) // 2))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [str(x) for x in rng.choice(_LANGS, n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _embeddings(rng, n: int, dim: int = 64):
    import numpy as np
    import pyarrow as pa

    vecs = rng.normal(size=(n, dim))
    for i in range(1, n):
        if rng.random() < 0.3:
            vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(
                scale=0.05, size=dim)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = (vecs * 0.5).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})
