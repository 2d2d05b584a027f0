"""Volume streaming test: a deterministic 20k-frame, two-product capture
through the complete pipeline (replay source → parse → stateful kernel →
idempotent sinks), validating at volume what the golden tests validate at
frame granularity:

- final book state == pure-Python replay of the same frames (the
  streaming micro-batch boundaries must not change T1–T5 semantics)
- every detected gap exactly matches the planted trade-id gaps
- change-dedup: book-row count == pure replay's emit count
"""

from __future__ import annotations

import json
import random

import pytest

from pyspark.sql import functions as F

from fictional_guacamole_spark.operators.book import (
    OrderBook, process_frames)
from fictional_guacamole_spark.sources.replay import (
    read_frames_stream, write_capture)
from fictional_guacamole_spark.streaming.frames import (
    ensure_frame_schema, parse_gdax_frames)
from fictional_guacamole_spark.streaming.pipeline import run_pipeline

N_FRAMES = 20_000
PRODUCTS = ["ETH-USD", "BTC-USD"]


def _gen_frames(seed: int = 42) -> tuple[list[str], dict]:
    """Deterministic feed: snapshots, zipfian-depth deltas (mostly deep
    book — exercising the emit fast path), deletes, trades with planted
    gaps."""
    rng = random.Random(seed)
    frames: list[str] = []
    mid = {"ETH-USD": 3000.0, "BTC-USD": 60000.0}
    next_tid = {p: 1000 for p in PRODUCTS}
    planted_gaps: dict[str, list[tuple[int, int]]] = {p: [] for p in PRODUCTS}
    live_prices: dict[str, list[str]] = {p: [] for p in PRODUCTS}

    def ts(i: int) -> str:
        return f"2024-02-01T{i // 3600:02d}:{(i // 60) % 60:02d}:{i % 60:02d}.{i % 1000:03d}000Z"

    for p in PRODUCTS:
        bids = [[f"{mid[p] - 0.5 - i * 0.5:.2f}", "1.00"] for i in range(40)]
        asks = [[f"{mid[p] + 0.5 + i * 0.5:.2f}", "1.00"] for i in range(40)]
        live_prices[p] = [b[0] for b in bids] + [a[0] for a in asks]
        frames.append(json.dumps({
            "type": "snapshot", "product_id": p, "bids": bids, "asks": asks,
            "time": ts(0)}))

    for i in range(N_FRAMES - len(PRODUCTS)):
        p = rng.choice(PRODUCTS)
        kind = rng.random()
        if kind < 0.80:  # delta: update/insert at zipf-ish depth
            side = rng.choice(["buy", "sell"])
            sign = -1 if side == "buy" else 1
            depth = rng.paretovariate(1.2)  # mostly deep
            price = f"{mid[p] + sign * (0.5 + min(depth, 200) * 0.5):.2f}"
            vol = f"{rng.randint(1, 99) / 10:.2f}"
            live_prices[p].append(price)
            frames.append(json.dumps({
                "type": "l2update", "product_id": p,
                "changes": [[side, price, vol]], "time": ts(i + 1)}))
        elif kind < 0.90:  # delete a known level
            price = rng.choice(live_prices[p])
            side = "buy" if float(price) < mid[p] else "sell"
            frames.append(json.dumps({
                "type": "l2update", "product_id": p,
                "changes": [[side, price, "0"]], "time": ts(i + 1)}))
        else:  # trade; 10% of trades jump the id sequence (planted gap)
            tid = next_tid[p]
            if rng.random() < 0.10:
                skip = rng.randint(1, 5)
                planted_gaps[p].append((tid, tid + skip - 1))
                tid += skip
            next_tid[p] = tid + 1
            frames.append(json.dumps({
                "type": "match", "product_id": p, "trade_id": tid,
                "sequence": i, "price": f"{mid[p]:.2f}",
                "size": "0.10", "side": "buy", "time": ts(i + 1)}))
    return frames, planted_gaps


@pytest.fixture(scope="module")
def volume_capture(tmp_path_factory):
    frames, planted = _gen_frames()
    p = tmp_path_factory.mktemp("volume") / "feed.jsonl"
    return str(write_capture(str(p), frames)), frames, planted


def test_volume_pipeline_matches_pure_replay(spark, volume_capture, tmp_path):
    path, frames_json, planted_gaps = volume_capture
    frames = ensure_frame_schema(parse_gdax_frames(
        read_frames_stream(spark, path, frames_per_batch=2500)))
    sink = str(tmp_path / "sink")
    q = run_pipeline(frames, sink, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    # pure-Python replay over the same frames = ground truth
    books: dict[str, OrderBook] = {p: OrderBook() for p in PRODUCTS}
    expected_rows: dict[str, list] = {p: [] for p in PRODUCTS}
    for i, raw in enumerate(frames_json):
        f = json.loads(raw)
        f["seq"] = i
        f["msg_type"] = f.pop("type")
        f["volume"] = f.pop("size", None)
        pid = f["product_id"]
        expected_rows[pid].extend(process_frames(books[pid], iter([f])))

    trades = spark.read.parquet(f"{sink}/trades")
    book_rows = spark.read.parquet(f"{sink}/books")
    gaps = spark.read.parquet(f"{sink}/gaps")

    for p in PRODUCTS:
        exp = expected_rows[p]
        exp_books = [r for r in exp if r["out_type"] == "book"]
        exp_trades = [r for r in exp if r["out_type"] == "trade"]

        # change-dedup parity at volume
        assert book_rows.filter(F.col("product_id") == p).count() == len(exp_books)
        assert trades.filter(F.col("product_id") == p).count() == len(exp_trades)

        # final emitted top-15 identical to ground truth
        last = (book_rows.filter(F.col("product_id") == p)
                .orderBy(F.desc("server_ts")).limit(1).collect()[0])
        exp_last = exp_books[-1]
        assert list(last["bids"]) == exp_last["bids"]
        assert list(last["asks"]) == exp_last["asks"]

        # every planted gap detected, nothing else
        got_gaps = {(r["gap_first_id"], r["gap_last_id"])
                    for r in gaps.filter(F.col("product_id") == p).collect()}
        assert got_gaps == set(planted_gaps[p])


def test_source_dedup_within_watermark(spark, tmp_path):
    """At-least-once transport: the capture is delivered TWICE with the
    same frame seqs (an upstream replay). With ``dedupe_horizon`` set,
    dropDuplicatesWithinWatermark removes the re-deliveries before the
    stateful kernel, so output equals a pure replay of the single feed —
    without it, duplicate deltas would double-apply and trades re-emit."""
    frames_json: list[str] = []
    tid = 100

    def ts(i: int) -> str:
        return f"2024-02-01T00:{(i // 60) % 60:02d}:{i % 60:02d}.000000Z"

    frames_json.append(json.dumps({
        "type": "snapshot", "product_id": "ETH-USD",
        "bids": [["3000.00", "1.00"]], "asks": [["3001.00", "1.00"]],
        "time": ts(0)}))
    for i in range(1, 200):
        if i % 5 == 0:
            frames_json.append(json.dumps({
                "type": "match", "product_id": "ETH-USD", "trade_id": tid,
                "price": "3000.50", "size": "0.10", "side": "buy",
                "time": ts(i)}))
            tid += 1
        else:
            frames_json.append(json.dumps({
                "type": "l2update", "product_id": "ETH-USD",
                "changes": [["buy", f"{2999.0 - (i % 7):.2f}", f"{i % 9}.00"]],
                "time": ts(i)}))
    n = len(frames_json)

    path = str(tmp_path / "dup_feed.jsonl")
    write_capture(path, frames_json + frames_json)  # whole-feed re-delivery
    raw = read_frames_stream(spark, path, frames_per_batch=2 * n)
    frames = ensure_frame_schema(parse_gdax_frames(raw)) \
        .withColumn("seq", F.col("seq") % n)  # re-delivery keeps its seq
    sink = str(tmp_path / "sink")
    q = run_pipeline(frames, sink, str(tmp_path / "ckpt"),
                     dedupe_horizon="1 hour")
    q.processAllAvailable()
    q.stop()

    book = OrderBook()
    expected = []
    for i, raw_f in enumerate(frames_json):
        f = json.loads(raw_f)
        f["seq"] = i
        f["msg_type"] = f.pop("type")
        f["volume"] = f.pop("size", None)
        expected.extend(process_frames(book, iter([f])))
    exp_trades = [r for r in expected if r["out_type"] == "trade"]
    exp_books = [r for r in expected if r["out_type"] == "book"]

    trades = spark.read.parquet(f"{sink}/trades")
    books = spark.read.parquet(f"{sink}/books")
    assert trades.count() == len(exp_trades)
    assert books.count() == len(exp_books)
    # no duplicate trade ids made it through
    assert trades.select("trade_id").distinct().count() == trades.count()


@pytest.mark.parametrize("n_gaps, cap", [(500, 100), (50, 100)],
                         ids=["burst", "under_cap"])
def test_gap_burst_bounds_in_batch_repair(spark, tmp_path, caplog, n_gaps,
                                          cap):
    """Outage-sized gap burst: an exchange outage can emit far more gap
    ranges in one micro-batch than one trigger should repair. The batch
    writer must (a) repair at most the RANGE cap in-batch — executor-side,
    the driver never holds a repaired row — (b) still record EVERY
    range in the gaps sink so a later repair pass can finish the job,
    and (c) WARN with the dropped count — a silently-capped repair
    would contradict the no-silent-caps posture (r14 advisor fix). Under
    the cap every range is repaired and nothing is logged."""
    import logging as _logging
    from datetime import datetime, timezone

    from fictional_guacamole_spark.operators.book import OUTPUT_SCHEMA
    from fictional_guacamole_spark.streaming.pipeline import make_batch_writer

    width = 3
    ts = datetime(2024, 2, 1, tzinfo=timezone.utc)
    rows = [{"out_type": "gap", "product_id": "ETH-USD", "server_ts": ts,
             "gap_first_id": i * 10, "gap_last_id": i * 10 + width - 1}
            for i in range(n_gaps)]
    # one partition: where the kernel's hash partitioning puts one product
    batch = spark.createDataFrame(rows, OUTPUT_SCHEMA).repartition(1)

    def recovered_fetcher(product_id: str, after_id: int) -> list[dict]:
        # exchange back up: pages of trades strictly below the cursor
        return [{"trade_id": t, "price": "1", "volume": "1", "side": "buy",
                 "server_ts": None, "exchange_ts": None}
                for t in range(int(after_id) - 1,
                               max(int(after_id) - 101, -1), -1)]

    writer = make_batch_writer(str(tmp_path / "sink"), recovered_fetcher,
                               max_backfill_ranges=cap)
    with caplog.at_level(_logging.WARNING,
                         logger="fictional_guacamole_spark.pipeline"):
        writer(batch, 0)
    burst_warnings = [r for r in caplog.records
                      if "backfill cap hit" in r.getMessage()]
    if n_gaps > cap:
        assert len(burst_warnings) == 1
        assert f"{n_gaps - cap} ranges NOT repaired" in (
            burst_warnings[0].getMessage())
    else:
        assert burst_warnings == []

    # in-batch repair bounded by the RANGE cap: exactly min(n_gaps, cap)
    # ranges (of width ids each) landed, no duplicates
    repaired = min(n_gaps, cap) * width
    trades = spark.read.parquet(str(tmp_path / "sink" / "trades"))
    assert trades.count() == repaired
    assert trades.filter("backfilled").count() == repaired
    assert trades.select("trade_id").distinct().count() == repaired
    # ...but the durable audit sink holds the full burst
    gaps = spark.read.parquet(str(tmp_path / "sink" / "gaps"))
    assert gaps.count() == n_gaps
