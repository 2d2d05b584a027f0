"""Streaming-semantics tests (SURVEY.md §5.3): golden-replay of captured
frame sequences through parse (P1–P7) → stateful kernel (T1–T5) →
foreachBatch sinks (K1/K2), gap backfill (T6), and the reference-schema
compat views. Frames follow the protocols documented in FIXTURES.md §A3."""

from __future__ import annotations

import json

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

    def test_failed_trigger_replays_exactly_once(self, spark, gdax_capture,
                                                 tmp_path):
        """A trigger that dies after its sink writes began replays on
        restart and lands exactly once:

        - fetch_fails: the fetcher raises on its first call (the gap
          batch), so the query dies mid-trigger; the restart on the same
          checkpoint repairs the gap;
        - commit_lost: a clean run loses its last ``commits/<id>`` file
          (a crash between the sink writes and the commit), so the
          restart replays that batch over sinks that already hold it.

        Either way books, trades and gaps equal a clean run of the same
        frames, and no staging directory is left behind."""
        from collections import Counter
        from pathlib import Path

        marker = tmp_path / "fetcher_failed"

        def failing_once_fetcher(product_id, after_id):
            # a file, not a flag: the fetcher runs in worker processes
            if not marker.exists():
                marker.touch()
                raise RuntimeError("injected backfill failure")
            return canned_fetcher(product_id, after_id)

        def start(sink, ckpt, fetcher, name):
            frames = ensure_frame_schema(
                parse_gdax_frames(read_frames_stream(spark, gdax_capture,
                                                     frames_per_batch=3)))
            return run_pipeline(frames, str(sink), str(ckpt),
                                fetcher=fetcher, query_name=name)

        def drain(sink, ckpt, fetcher, name):
            q = start(sink, ckpt, fetcher, name)
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        def sinks(sink):
            return {sub: Counter(
                tuple(str(v) for k, v in sorted(r.asDict().items())
                      if k != "_batch")
                for r in spark.read.parquet(str(sink / sub)).collect())
                for sub in ("books", "trades", "gaps")}

        drain(tmp_path / "clean_sink", tmp_path / "clean_ckpt",
              canned_fetcher, "eo_clean")
        clean = sinks(tmp_path / "clean_sink")
        assert sum(clean["trades"].values()) == 4   # 2 live + 2 repaired

        for case in ("fetch_fails", "commit_lost"):
            sink, ckpt = tmp_path / f"{case}_sink", tmp_path / f"{case}_ckpt"
            if case == "fetch_fails":
                q = start(sink, ckpt, failing_once_fetcher, "eo_fail")
                try:
                    with pytest.raises(Exception):
                        q.processAllAvailable()
                finally:
                    q.stop()
                assert marker.exists(), case
            else:
                drain(sink, ckpt, canned_fetcher, "eo_first")
                commits = ckpt / "commits"
                last = max(int(p.name) for p in commits.iterdir()
                           if p.name.isdigit())
                (commits / str(last)).unlink()
                # its checksum too, or the re-commit's rename is refused
                (commits / f".{last}.crc").unlink(missing_ok=True)
            drain(sink, ckpt, canned_fetcher, f"eo_{case}")
            assert sinks(sink) == clean, case
            trades = spark.read.parquet(str(sink / "trades"))
            assert trades.select("trade_id").distinct().count() == 4, case
            assert not [p for p in Path(sink).rglob("*")
                        if p.name == "_staging"], case

    def test_state_commits_write_changelogs(self, spark, gdax_capture,
                                            tmp_path):
        """Each state commit of a two-batch replay writes that version's
        changelog under the checkpoint's state/ directory."""
        import re
        from pathlib import Path

        frames = ensure_frame_schema(
            parse_gdax_frames(read_frames_stream(spark, gdax_capture,
                                                 frames_per_batch=4)))
        ckpt = tmp_path / "ckpt"
        q = run_pipeline(frames, str(tmp_path / "sink"), str(ckpt),
                         fetcher=canned_fetcher, query_name="changelog")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        versions = {int(m.group(1)) for p in Path(ckpt, "state").rglob("*")
                    if (m := re.fullmatch(r"(\d+)(?:_[^.]*)?\.changelog",
                                          p.name))}
        assert {1, 2} <= versions, sorted(versions)

    def test_snapshot_checkpoint_resumes_under_changelogs(self, spark,
                                                          tmp_path):
        """A query started with snapshot-only state commits and the
        FileContext checkpoint manager resumes on the same checkpoint
        under the session's confs; its sinks equal a clean run's, the gap
        and the book delete read from state written before the switch."""
        from collections import Counter

        frames = [GDAX_FRAMES[0], GDAX_FRAMES[4], GDAX_FRAMES[1],
                  GDAX_FRAMES[2], GDAX_FRAMES[5], GDAX_FRAMES[3]]
        cap = str(tmp_path / "capture.jsonl")

        def drain(sink, ckpt, name):
            stream = ensure_frame_schema(parse_gdax_frames(
                read_frames_stream(spark, cap, frames_per_batch=2)))
            q = run_pipeline(stream, str(sink), str(ckpt),
                             fetcher=canned_fetcher, query_name=name,
                             dedupe_horizon="10 minutes")
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        def sinks(sink):
            return {sub: Counter(
                tuple(str(v) for k, v in sorted(r.asDict().items())
                      if k != "_batch")
                for r in spark.read.parquet(str(sink / sub)).collect())
                for sub in ("books", "trades", "gaps")}

        write_capture(cap, frames)
        drain(tmp_path / "clean_sink", tmp_path / "clean_ckpt", "upg_clean")
        clean = sinks(tmp_path / "clean_sink")
        assert sum(clean["gaps"].values()) == 1

        old_confs = {
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled": "false",
            "spark.sql.streaming.checkpointFileManagerClass":
                "org.apache.spark.sql.execution.streaming.checkpointing."
                "FileContextBasedCheckpointFileManager",
        }
        sink, ckpt = tmp_path / "sink", tmp_path / "ckpt"
        write_capture(cap, frames[:4])
        saved = {k: spark.conf.get(k, None) for k in old_confs}
        try:
            for k, v in old_confs.items():
                spark.conf.set(k, v)
            drain(sink, ckpt, "upg_old")
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        assert not list(ckpt.joinpath("state").rglob("*.changelog"))
        write_capture(cap, frames)
        drain(sink, ckpt, "upg_new")
        assert sinks(sink) == clean

    def test_empty_product_id_keeps_sinks_readable(self, spark, tmp_path):
        """A frame whose product_id is "" lands in the partition Spark's
        own writer gives it (``__HIVE_DEFAULT_PARTITION__``), so the sink
        still reads back with every row."""
        cap = write_capture(str(tmp_path / "empty_pid.jsonl"), [
            {"type": "match", "product_id": "", "trade_id": 1,
             "sequence": 1, "price": "1.0", "size": "0.5", "side": "buy",
             "time": "2024-01-05T10:00:00.000001Z"},
            {"type": "match", "product_id": "ETH-USD", "trade_id": 7,
             "sequence": 2, "price": "2.0", "size": "0.5", "side": "sell",
             "time": "2024-01-05T10:00:01.000001Z"},
        ])
        frames = ensure_frame_schema(
            parse_gdax_frames(read_frames_stream(spark, cap)))
        sink = str(tmp_path / "sink")
        q = run_pipeline(frames, sink, str(tmp_path / "ckpt"),
                         query_name="empty_pid")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        trades = spark.read.parquet(f"{sink}/trades").collect()
        assert sorted((r["product_id"] or "", r["trade_id"])
                      for r in trades) == [("", 1), ("ETH-USD", 7)]

    def test_sink_files_follow_the_one_declaration(self, spark, tmp_path):
        """OUTPUT_SCHEMA is out_type plus the union of OUTPUT_COLUMNS, and
        every parquet file of every sink holds exactly its type's columns
        but product_id, in OUTPUT_COLUMNS order, with OUTPUT_SCHEMA's
        types (timestamps as UTC instants)."""
        from pathlib import Path

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        from fictional_guacamole_spark.operators.book import (
            OUTPUT_COLUMNS, OUTPUT_SCHEMA)

        names = OUTPUT_SCHEMA.fieldNames()
        assert names[0] == "out_type"
        assert sorted(names[1:]) == sorted(
            {c for cols in OUTPUT_COLUMNS.values() for c in cols})
        assert len(names) == len(set(names))

        def frame(msg_type, pid, ts, **kw):
            f = {"type": msg_type, "product_id": pid,
                 "time": f"2024-01-05T{ts}.000000Z", **kw}
            if msg_type == "snapshot":
                f.update(bids=[["100", "1"]], asks=[["101", "1"]])
            elif msg_type == "l2update":
                f["changes"] = [["buy", "100", "2"]]
            return f

        cap = write_capture(str(tmp_path / "all_sinks.jsonl"), [
            frame("snapshot", "A", "10:00:00"),
            frame("match", "A", "10:00:01", trade_id=100, sequence=1,
                  price="100.5", size="0.25", side="buy"),
            # gap: 101..102 missing, repaired by the fetcher
            frame("match", "A", "10:00:02", trade_id=103, sequence=2,
                  price="100.6", size="0.5", side="sell"),
            frame("snapshot", "B", "10:01:00"),
            frame("l2update", "B", "10:02:00"),
        ])
        frames = ensure_frame_schema(parse_gdax_frames(
            read_frames_stream(spark, cap, frames_per_batch=2)))
        sink = tmp_path / "sink"
        q = run_pipeline(frames, str(sink), str(tmp_path / "ckpt"),
                         fetcher=canned_fetcher, query_name="one_decl",
                         dedupe_horizon="0 seconds", stale_after_s=10)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        arrow = to_arrow_schema(OUTPUT_SCHEMA)
        for out_type, sub in [("book", "books"), ("trade", "trades"),
                              ("gap", "gaps"), ("stale", "stale")]:
            cols = [c for c in OUTPUT_COLUMNS[out_type] if c != "product_id"]
            files = sorted(Path(sink, sub).rglob("*.parquet"))
            assert files, sub
            for path in files:
                schema = pq.read_schema(path)
                assert schema.names == cols, path
                for c in cols:
                    want = arrow.field(c).type
                    if pa.types.is_timestamp(want):
                        want = pa.timestamp("us", "UTC")
                    assert schema.field(c).type == want, (path, c)


class TestReplaySource:
    def test_reads_resume_where_the_last_read_ended(self, tmp_path):
        """Consecutive ``read`` windows, blank lines and an all-blank
        window included, equal one ``readBetweenOffsets`` over the whole
        range; a fresh reader (a restart) reading from a mid offset
        returns the same window as the running one."""
        from fictional_guacamole_spark.sources.replay import (
            ReplayStreamReader)

        lines = ["f0", "", "f2", "", "  ", "", "f6", "f7", "", "f9"]
        cap = str(tmp_path / "blanks.jsonl")
        with open(cap, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
        opts = {"path": cap, "framesPerBatch": "3"}

        reader = ReplayStreamReader(opts)
        offset, windows = reader.initialOffset(), []
        while True:
            rows, end = reader.read(offset)
            if end == offset:
                assert list(rows) == []
                break
            windows.append((offset, list(rows), end))
            offset = end
        assert [w[1] for w in windows] == [
            [(0, "f0"), (2, "f2")], [], [(6, "f6"), (7, "f7")], [(9, "f9")]]
        assert offset == {"line": len(lines)}
        assert ([r for w in windows for r in w[1]]
                == list(ReplayStreamReader(opts).readBetweenOffsets(
                    {"line": 0}, offset)))
        for start, rows, end in windows:
            fresh_rows, fresh_end = ReplayStreamReader(opts).read(start)
            assert (list(fresh_rows), fresh_end) == (rows, end), start


class TestTwsBookKernel:
    """The stale-book alarm on the book kernel's event-time timeout
    (operators/book.py): arming it leaves books/trades/gaps and the
    applyInPandasWithState operator unchanged, refuses a missing
    watermark, and fires once per stale episode. (The class name is
    from the transformWithState port this alarm replaced.)"""

    def _drain(self, spark, frames, sink, ckpt, **kw):
        """Run the pipeline to completion; returns the names of the
        stateful operators the query executed."""
        q = run_pipeline(frames, sink, ckpt, **kw)
        try:
            q.processAllAvailable()
            return {op["operatorName"] for p in q.recentProgress
                    for op in p["stateOperators"]}
        finally:
            q.stop()

    def test_tws_outputs_equal_classic(self, spark, gdax_capture, tmp_path):
        """Arming the stale alarm keeps the book on the one
        applyInPandasWithState kernel; books/trades/gaps must not change.
        Both legs share a watermark wide enough that no fixture frame
        arrives late."""
        outs, ops = {}, {}
        for label, stale_after_s in (("unarmed", None), ("armed", 3600)):
            frames = ensure_frame_schema(
                parse_gdax_frames(read_frames_stream(spark, gdax_capture,
                                                     frames_per_batch=3)))
            sink = str(tmp_path / f"sink_{label}")
            ops[label] = self._drain(
                spark, frames, sink, str(tmp_path / f"ck_{label}"),
                dedupe_horizon="1 day", stale_after_s=stale_after_s,
                query_name=f"tws_eq_{label}")
            outs[label] = {
                sub: sorted(
                    tuple(r) for r in spark.read.parquet(f"{sink}/{sub}")
                    .drop("_batch").collect())
                for sub in ("books", "trades", "gaps")}
        assert outs["unarmed"] == outs["armed"]
        assert all(outs["unarmed"].values())  # non-vacuous comparison
        for label in ("unarmed", "armed"):
            assert "applyInPandasWithState" in ops[label]
            assert not any("transformWithState" in o for o in ops[label])

    def test_stale_alarm_without_watermark_raises(self, spark, gdax_capture,
                                                  tmp_path):
        """An armed alarm with no watermark would never fire: refuse it
        before any query starts. A batch replay has no timeout to arm."""
        batch = ensure_frame_schema(
            parse_gdax_frames(read_frames_batch(spark, gdax_capture)))
        with pytest.raises(ValueError, match="streaming"):
            apply_book_kernel(batch, stale_after_s=3600)
        frames = ensure_frame_schema(
            parse_gdax_frames(read_frames_stream(spark, gdax_capture,
                                                 frames_per_batch=3)))
        with pytest.raises(ValueError, match="watermark"):
            run_pipeline(frames, str(tmp_path / "sink"),
                         str(tmp_path / "ckpt"), stale_after_s=3600,
                         query_name="tws_no_wm")
        assert not [q for q in spark.streams.active
                    if q.name == "tws_no_wm"]
        assert not (tmp_path / "ckpt").exists()

    def test_stale_book_alarm_fires_on_idle_product(self, spark, tmp_path):
        """Event-time staleness, one case per stream:

        - idle: product A's last frame is >1h before the final watermark
          → one alarm at last_frame + T; product B's last frame IS the
          watermark → no alarm;
        - behind_watermark: C's first frame lands more than T behind the
          watermark; its alarm still fires (at 09:01), it does not
          kill the query. C's frame is batch 2, whose watermark (10:00)
          stays until batch 4 (12:00), so C alarms in batch 4, on the
          next watermark advance, not in its frame's trigger;
        - once_per_episode: A alarms once while idle, is re-armed by its
          next frame, and alarms once more — never again per trigger;
        - at_deadline: the final watermark EQUALS A's last frame + T, so
          A alarms (inclusive deadline), as C, 1 s earlier, does.
        """
        def frame(msg_type, pid, ts, px="100"):
            f = {"type": msg_type, "product_id": pid,
                 "time": f"2024-01-05T{ts}.000000Z"}
            if msg_type == "snapshot":
                f.update(bids=[[px, "1"]], asks=[[str(int(px) + 1), "1"]])
            else:
                f["changes"] = [["buy", px, "2"]]
            return json.dumps(f)

        cases = {
            "idle": dict(
                frames=[frame("snapshot", "A", "10:00:00"),
                        frame("snapshot", "B", "10:00:00", "200"),
                        frame("l2update", "A", "10:00:10"),
                        frame("l2update", "B", "12:00:10", "200")],
                frames_per_batch=2, stale_after_s=3600,
                dedupe_horizon="0 seconds",
                stale=[("A", "2024-01-05 11:00:10")], books=4),
            "behind_watermark": dict(
                frames=[frame("snapshot", "A", "10:00:00"),
                        frame("snapshot", "B", "12:00:00"),
                        frame("snapshot", "C", "09:00:00"),
                        frame("l2update", "B", "14:00:00"),
                        frame("l2update", "B", "14:00:01")],
                frames_per_batch=1, stale_after_s=60,
                dedupe_horizon="2 hours",
                stale=[("A", "2024-01-05 10:01:00"),
                       ("C", "2024-01-05 09:01:00")], books=None,
                stale_batches=[("A", 4), ("C", 4)]),
            "once_per_episode": dict(
                frames=[frame("snapshot", "A", "10:00:00"),
                        frame("snapshot", "B", "10:00:00"),
                        frame("l2update", "B", "12:00:00"),
                        frame("l2update", "B", "12:00:01"),
                        frame("l2update", "A", "12:30:00"),
                        frame("l2update", "B", "14:00:00"),
                        frame("l2update", "B", "14:00:01"),
                        frame("l2update", "B", "14:00:02"),
                        frame("l2update", "B", "14:00:03")],
                frames_per_batch=1, stale_after_s=3600,
                dedupe_horizon="0 seconds",
                stale=[("A", "2024-01-05 11:00:00"),
                       ("A", "2024-01-05 13:30:00")], books=None),
            "at_deadline": dict(
                frames=[frame("snapshot", "A", "10:00:00"),
                        frame("snapshot", "C", "09:59:59"),
                        frame("snapshot", "B", "10:01:00")],
                frames_per_batch=1, stale_after_s=60,
                dedupe_horizon="0 seconds",
                stale=[("A", "2024-01-05 10:01:00"),
                       ("C", "2024-01-05 10:00:59")], books=None),
        }
        for name, case in cases.items():
            cap = write_capture(str(tmp_path / f"{name}.jsonl"),
                                case["frames"])
            parsed = ensure_frame_schema(parse_gdax_frames(
                read_frames_stream(spark, cap,
                                   frames_per_batch=case["frames_per_batch"])))
            sink = str(tmp_path / f"{name}_sink")
            self._drain(spark, parsed, sink, str(tmp_path / f"{name}_ckpt"),
                        stale_after_s=case["stale_after_s"],
                        dedupe_horizon=case["dedupe_horizon"],
                        query_name=f"tws_stale_{name}")
            stale = spark.read.parquet(f"{sink}/stale").collect()
            assert sorted((r["product_id"], str(r["server_ts"]))
                          for r in stale) == case["stale"], name
            if "stale_batches" in case:
                assert sorted((r["product_id"], r["_batch"])
                              for r in stale) == case["stale_batches"], name
            if case["books"] is not None:
                # the alarm never perturbs the judged sinks
                assert (spark.read.parquet(f"{sink}/books").count()
                        == case["books"])


class TestStateTtl:
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
