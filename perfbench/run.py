#!/usr/bin/env python3
"""Order-book stream benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload book_replay --seed 1 --seconds 5 --trace 0

Workloads (parameters and the reason for each in ``workloads.json``):

- ``book_replay``: closed loop. A seeded GDAX capture is pre-loaded and
  drained through ``sources.replay.read_frames_stream →
  streaming.frames.parse_gdax_frames → streaming.pipeline.run_pipeline`` in
  two large micro-batches, the cold one and one timed one; ``--seconds``
  does not change it.
- ``book_live``: open loop. ``loadgen.py`` runs as its own process and sends
  the same mix over one loopback websocket at a fixed rate for
  ``--seconds``; the engine reads it with ``sources.websocket``, which ends
  a batch when the socket goes quiet, so each batch takes what arrived
  during the trigger before it.

Both start the program's own session (``session.get_spark``) on
``local[<cpus>]``. The query's first batch is its cold first trigger and
counts as set-up; timing starts after it. After the stream stops, the sinks
are checked against a pure ``process_frames`` replay of the de-duplicated
frames, every planted trade-id gap must come back as ``backfilled`` trades,
and the dropped duplicates must equal the planted ones. The last line of
stdout is one JSON object: end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``. The exit code is 1 when any check fails.
Everything the run writes goes under ``.perfbench/`` in the checkout; the
temporary part is removed at exit, and ``.perfbench/results/`` keeps one
JSON file per run (metrics, host, phases, spans).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from collections import Counter
from datetime import datetime, timezone
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
WORKLOADS = json.loads((HERE / "workloads.json").read_text())
DEDUPE_HORIZON = "10 minutes"
PROBE_FRAMES = 10_000  # cap on the frames the traced batch probes replay

sys.path.insert(0, str(HERE))
import loadgen  # noqa: E402
from spans import Tracer  # noqa: E402

UNITS = {"setup_s": "s", "frames_per_s": "1/s", "latency_p50_s": "s",
         "latency_p98_s": "s"}
TRACED_SPANS = ["setup.session", "setup.warmup", "setup.generate",
                "run.stream", "streaming.pipeline.trigger", "sources.read",
                "streaming.pipeline.plan", "streaming.pipeline.add_batch",
                "streaming.pipeline.checkpoint", "check.outputs",
                "streaming.frames.parse", "operators.book.kernel",
                "plans.book_batch_replay"]
PER_LAYER = {
    "sources.read_ms_p50": "ms", "sources.read_ms_p99": "ms",
    "streaming.frames.parse_frames_per_s": "1/s",
    "operators.book.kernel_frames_per_s": "1/s",
    "operators.book.state_rows": "count", "operators.book.state_bytes": "B",
    "operators.book.state_commit_ms_p50": "ms",
    "operators.book.emit_ratio": "ratio",
    "streaming.pipeline.trigger_ms_p50": "ms",
    "streaming.pipeline.trigger_ms_p99": "ms",
    "streaming.pipeline.add_batch_ms_p50": "ms",
    "streaming.pipeline.checkpoint_ms_p50": "ms",
    "streaming.pipeline.batches": "count",
    "streaming.pipeline.spark_jobs_per_batch": "count",
    "streaming.pipeline.dedupe_dropped": "count",
    "streaming.pipeline.files_written": "count",
    "streaming.pipeline.bytes_written": "B",
    "streaming.backfill.ranges": "count",
    "streaming.backfill.ids_repaired": "count",
    "streaming.backfill.repair_tasks": "count",
    "plans.book_batch_replay_s": "s",
    "plans.book_batch_replay.exchanges": "count",
    "host.peak_rss_mb": "MB",
    **{f"trace.{name}.self_ms": "ms" for name in TRACED_SPANS},
}


# ---------------------------------------------------------------------------
# host: process tree, memory, environment
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(entry))
    return out


def descendants(pid: int) -> list[int]:
    tree, out, todo = _children_map(), [], [pid]
    while todo:
        for child in tree.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler(threading.Thread):
    """Peak resident memory of this process and everything it started
    (JVM, Python workers), minus ``exclude`` (the load generator)."""

    def __init__(self, period_s: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.period_s = period_s
        self.exclude: set[int] = set()
        self.peak = 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_event.is_set():
            pids = [me] + [p for p in descendants(me) if p not in self.exclude]
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in pids))
            self._stop_event.wait(self.period_s)

    def stop(self) -> None:
        self._stop_event.set()
        self.join(timeout=5)


def prepare_env(tmp: Path) -> int:
    """Point every scratch path of the engine inside ``tmp`` and size the
    session for this host; returns the CPU count used."""
    cpus = len(os.sched_getaffinity(0))
    (tmp / "tmp").mkdir(parents=True)
    java_opts = f"-Djava.io.tmpdir={tmp / 'tmp'} -XX:-UsePerfData"
    conf = {
        "spark.local.dir": tmp / "local",
        "spark.sql.warehouse.dir": tmp / "warehouse",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
    }
    submit = [f"--conf {k}={v}" if " " not in str(v) else f'--conf "{k}={v}"'
              for k, v in conf.items()]
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        TZ="UTC", SPARK_GRAFT_CPUS=str(cpus), TMPDIR=str(tmp / "tmp"),
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), str(HERE), path])),
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]))
    time.tzset()
    sys.path.insert(0, str(ROOT))
    return cpus


def start_spark():
    from fictional_guacamole_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for both."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def reap_children(timeout_s: float = 30.0) -> None:
    """Wait for every process this run started; kill what outlives it."""
    deadline = time.time() + timeout_s
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + 10
    while descendants(os.getpid()) and time.time() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


# ---------------------------------------------------------------------------
# streaming progress
# ---------------------------------------------------------------------------

def _epoch(iso: str) -> float:
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def progress(query) -> list[dict]:
    """Finished micro-batches that read input, oldest first."""
    out = []
    for p in query.recentProgress:
        p = json.loads(p.json)
        if p["numInputRows"] > 0:
            out.append(p)
    return sorted(out, key=lambda p: p["batchId"])


def trigger_window(p: dict) -> tuple[float, float]:
    start = _epoch(p["timestamp"])
    return start, start + p["durationMs"]["triggerExecution"] / 1000


def _offset(off: dict | None) -> int:
    """A source offset (``{"line": n}`` or ``{"frame": n}``) as its count."""
    if off is None:
        return 0
    (value,) = off.values()
    return int(value)


def end_offset(p: dict) -> int:
    return _offset(p["sources"][0]["endOffset"])


def start_offset(p: dict) -> int:
    return _offset(p["sources"][0]["startOffset"])


def state_op(p: dict, name: str) -> dict:
    return next(s for s in p["stateOperators"] if s["operatorName"] == name)


def wait_for(query, done, timeout_s: float) -> list[dict]:
    """Poll ``query`` until ``done(batches)``; raise if it dies or stalls."""
    deadline = time.time() + timeout_s
    while True:
        if not query.isActive:
            raise RuntimeError(f"streaming query stopped: {query.exception()}")
        batches = progress(query)
        if done(batches):
            return batches
        if time.time() > deadline:
            raise TimeoutError(f"no progress to the goal in {timeout_s:.0f} s")
        time.sleep(0.05)


def trace_triggers(tracer: Tracer, batches: list[dict], parent) -> None:
    """Rebuild each trigger's phases as spans, in MicroBatchExecution's
    order: read offsets, write the offset log, get and plan the batch,
    run it, commit."""
    phases = [("latestOffset", "sources.read"),
              ("walCommit", "streaming.pipeline.checkpoint"),
              ("getBatch", "sources.read"),
              ("queryPlanning", "streaming.pipeline.plan"),
              ("addBatch", "streaming.pipeline.add_batch"),
              ("commitOffsets", "streaming.pipeline.checkpoint")]
    for p in batches:
        start, end = trigger_window(p)
        sid = tracer.add("streaming.pipeline.trigger", start, end, parent)
        t = start
        for key, name in phases:
            d = p["durationMs"].get(key, 0) / 1000
            tracer.add(name, t, t + d, sid)
            t += d


# ---------------------------------------------------------------------------
# pipeline wiring (the system under test)
# ---------------------------------------------------------------------------

def start_pipeline(raw, sink: Path, ckpt: Path, name: str):
    """``parse_gdax_frames → run_pipeline`` over a raw frame stream, with
    the exchange sequence as the ordering and dedupe key, so a
    re-delivered frame carries the same key as its original."""
    from pyspark.sql import functions as F

    from fictional_guacamole_spark.streaming.frames import parse_gdax_frames
    from fictional_guacamole_spark.streaming.pipeline import run_pipeline

    frames = parse_gdax_frames(raw).withColumn("seq", F.col("sequence"))
    return run_pipeline(frames, str(sink), str(ckpt),
                        fetcher=loadgen.fetch_trades, query_name=name,
                        dedupe_horizon=DEDUPE_HORIZON)


def measure_replay(spark, tmp: Path, capture: loadgen.Capture, run: dict) -> dict:
    """Drain the pre-loaded capture. The query's first batch is its cold
    first trigger and belongs to set-up; the rest are timed."""
    from fictional_guacamole_spark.sources.replay import read_frames_stream

    total = len(capture.frames)
    started = time.time()
    raw = read_frames_stream(spark, str(tmp / "capture.jsonl"),
                             run["frames_per_batch"])
    q = start_pipeline(raw, tmp / "sink", tmp / "ckpt", "book_replay")
    try:
        batches = wait_for(q, lambda b: bool(b) and end_offset(b[-1]) >= total,
                           120)
        run_id = str(q.runId)
    finally:
        t = time.time()
        q.stop()
        stop_s = time.time() - t
    if len(batches) < 2:
        raise RuntimeError("the capture drained in one batch; nothing timed")
    measured = batches[1:]
    latency = []
    for p in measured:
        start, end = trigger_window(p)
        latency += [end - start] * p["numInputRows"]
    first = trigger_window(measured[0])[0]
    last = trigger_window(measured[-1])[1]
    return {"batches": batches, "measured": measured, "run_id": run_id,
            "stop_s": stop_s, "committed": total, "frames": capture.frames,
            "cold": (started, trigger_window(batches[0])[1]),
            "frames_per_s": len(latency) / (last - first), "latency": latency}


def measure_live(spark, tmp: Path, seed: int, spec: dict, run: dict,
                 sampler: RssSampler) -> dict:
    """Serve the capture from a separate generator process. Its first
    ``warmup_frames`` frames arrive as one burst: that batch is the query's
    cold warm-up and belongs to set-up. The fixed-rate schedule starts when
    it commits; the run ends when every frame is committed."""
    from fictional_guacamole_spark.sources import websocket

    warm, total = run["warmup_frames"], spec["frames"]
    ready, go, stats = tmp / "loadgen.port", tmp / "loadgen.go", tmp / "loadgen.stats"
    started = time.time()
    gen = subprocess.Popen(
        [sys.executable, str(HERE / "loadgen.py"), "serve", "--seed", str(seed),
         "--spec", json.dumps(spec), "--rate", str(run["rate"]),
         "--tick", str(run["tick_s"]), "--warmup", str(warm),
         "--ready", str(ready), "--go", str(go), "--stats", str(stats)],
        stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL)
    sampler.exclude.add(gen.pid)
    q = None
    try:
        deadline = time.time() + 60
        while not ready.exists():
            if gen.poll() is not None or time.time() > deadline:
                raise RuntimeError("load generator did not start")
            time.sleep(0.05)
        websocket.register(spark)
        raw = (spark.readStream.format("exchange_ws")
               .option("url", f"ws://127.0.0.1:{ready.read_text()}/feed")
               .option("products", json.dumps(loadgen.product_ids(spec["products"])))
               .option("framesPerBatch", str(run["frames_per_batch"]))
               .option("recvTimeout", str(run["quiet_s"]))
               .load())
        q = start_pipeline(raw, tmp / "sink", tmp / "ckpt", "book_live")
        wait_for(q, lambda b: bool(b) and end_offset(b[-1]) >= warm, 90)
        go.touch()
        batches = wait_for(q, lambda b: end_offset(b[-1]) >= total,
                           (total - warm) / run["rate"] + 60)
        run_id = str(q.runId)
    finally:
        t = time.time()
        if q is not None:
            q.stop()
        stop_s = time.time() - t
        try:
            gen.wait(timeout=15)
        except subprocess.TimeoutExpired:
            gen.terminate()
            gen.wait()
    sent = json.loads(stats.read_text())
    t0, due = sent["start"], sent["due"]
    measured = [p for p in batches if start_offset(p) >= warm]
    freshness = []
    for p in measured:
        commit = trigger_window(p)[1]
        for k in range(start_offset(p), end_offset(p)):
            freshness.append(commit - due[k - warm])
    last = trigger_window(batches[-1])[1]
    return {"batches": batches, "measured": measured, "run_id": run_id,
            "stop_s": stop_s, "committed": end_offset(batches[-1]),
            "frames": [json.loads(s) for s in sent["sent"]],
            "cold": (started, trigger_window(batches[0])[1]),
            "frames_per_s": (total - warm) / (last - t0),
            "latency": freshness, "late_s": sent["late_s"]}


# ---------------------------------------------------------------------------
# correctness
# ---------------------------------------------------------------------------

def _ts(text: str) -> datetime:
    return datetime.strptime(text, "%Y-%m-%dT%H:%M:%S.%fZ")


def frame_row(f: dict) -> dict:
    """A generated GDAX frame in the kernel's FRAME_SCHEMA shape, keyed by
    its exchange sequence as the pipeline is wired."""
    ts = _ts(f["time"])
    return {"seq": f["sequence"], "server_ts": ts, "product_id": f["product_id"],
            "msg_type": f["type"], "bids": f.get("bids"), "asks": f.get("asks"),
            "changes": f.get("changes"), "trade_id": f.get("trade_id"),
            "sequence": f["sequence"], "price": f.get("price"),
            "volume": f.get("size"), "side": f.get("side"), "exchange_ts": ts}


def dedupe(frames: list[dict]) -> tuple[list[dict], int]:
    """First delivery of each sequence as a kernel row, and the number of
    re-deliveries dropped."""
    seen: set[int] = set()
    rows = []
    for f in frames:
        if f["sequence"] not in seen:
            seen.add(f["sequence"])
            rows.append(frame_row(f))
    return rows, len(frames) - len(rows)


def read_sink(sink: Path, sub: str, batch_ids: list[int]) -> list[dict]:
    """Rows of the committed batches of one sink (parquet partitioned by
    ``_batch`` and ``product_id``), timestamps as naive UTC like the
    reference replay's."""
    import pyarrow.parquet as pq

    rows = []
    for b in batch_ids:
        for path in sorted((sink / sub / f"_batch={b}").glob("product_id=*/*.parquet")):
            pid = path.parent.name.split("=", 1)[1]
            for r in pq.read_table(path).to_pylist():
                for k, v in r.items():
                    if isinstance(v, datetime):
                        r[k] = v.replace(tzinfo=None)
                rows.append(dict(r, product_id=pid, _batch=b))
    return rows


def _diff(got: Counter, want: Counter) -> int:
    return sum(((got - want) + (want - got)).values())


def check_outputs(tmp: Path, result: dict, capture: loadgen.Capture) -> dict:
    """Sinks against a pure ``process_frames`` replay; planted gaps and
    duplicates against the generator's manifest."""
    from fictional_guacamole_spark.operators.book import replay_frames_batch

    committed = result["frames"][:result["committed"]]
    rows, dropped = dedupe(committed)  # dropped: planted re-deliveries
    expected = replay_frames_batch(None, rows)
    ids = [p["batchId"] for p in result["batches"]]
    sink = tmp / "sink"
    books = read_sink(sink, "books", ids)
    trades = read_sink(sink, "trades", ids)
    gaps = read_sink(sink, "gaps", ids)

    def book_key(r):
        return (r["product_id"], r["server_ts"], tuple(r["bids"]), tuple(r["asks"]))

    def trade_key(r):
        return (r["product_id"], r["server_ts"], r["trade_id"], r["sequence"],
                r["price"], r["volume"], r["side"])

    def gap_key(r):
        return (r["product_id"], r["gap_first_id"], r["gap_last_id"])

    def want(kind, key):
        return Counter(key(r) for r in expected if r["out_type"] == kind)

    live_trades = [r for r in trades if not r["backfilled"]]
    repaired = [r for r in trades if r["backfilled"]]
    first_pos = {}
    for pos, f in enumerate(result["frames"]):
        first_pos.setdefault(f["sequence"], pos)
    planted = [(p, tid) for p, tid, closing in capture.gaps
               if first_pos[closing] < result["committed"]]
    detected = [(r["product_id"], t) for r in expected if r["out_type"] == "gap"
                for t in range(r["gap_first_id"], r["gap_last_id"] + 1)]
    want_repaired = Counter(
        (p, tid) + tuple(loadgen.fetched_trade(p, tid)[k]
                         for k in ("price", "volume", "side"))
        for p, tid in planted)
    got_repaired = Counter((r["product_id"], r["trade_id"], r["price"],
                            r["volume"], r["side"]) for r in repaired)
    engine_dropped = sum(
        state_op(p, "dedupeWithinWatermark")["customMetrics"]["numDroppedDuplicateRows"]
        for p in result["batches"])
    mismatches = {
        "books": _diff(Counter(map(book_key, books)), want("book", book_key)),
        "trades": _diff(Counter(map(trade_key, live_trades)), want("trade", trade_key)),
        "gaps": _diff(Counter(map(gap_key, gaps)), want("gap", gap_key)),
        "planted_gaps": _diff(Counter(detected), Counter(planted)),
        "backfilled": _diff(got_repaired, want_repaired),
        "duplicates": abs(engine_dropped - dropped),
    }
    book_frames = sum(1 for r in rows if r["msg_type"] in ("snapshot", "l2update"))
    return {"mismatches": mismatches, "rows": rows,
            "books": len(books), "book_frames": book_frames, "gaps": len(gaps),
            "repaired": len(repaired), "dropped": engine_dropped,
            "batches_with_gaps": len({r["_batch"] for r in gaps})}


# ---------------------------------------------------------------------------
# per-layer probes (traced runs only)
# ---------------------------------------------------------------------------

def kernel_single_thread(rows: list[dict]) -> float:
    """``process_batch`` in this process, one product after another: the
    single-threaded baseline. Returns frames per second."""
    import pandas as pd

    from fictional_guacamole_spark.operators.book import (
        FRAME_SCHEMA, OrderBook, process_batch)

    by_product: dict[str, list[dict]] = {}
    for r in sorted(rows, key=lambda r: r["seq"]):
        by_product.setdefault(r["product_id"], []).append(r)
    cols = [f.name for f in FRAME_SCHEMA.fields]
    pdfs = [pd.DataFrame(rs, columns=cols) for rs in by_product.values()]
    n = sum(len(p) for p in pdfs)
    t = time.perf_counter()
    for pdf in pdfs:
        process_batch(OrderBook(), pdf)
    return n / (time.perf_counter() - t)


def batch_probes(spark, frames: list[dict], tracer: Tracer) -> dict:
    """``parse_gdax_frames`` alone and the batch ``applyInArrow`` kernel
    replay (the plan shape of the registry's kernel-throughput row) over
    the committed frames, each materialized with the noop sink."""
    from pyspark.sql import functions as F

    from fictional_guacamole_spark.operators.book import apply_book_kernel
    from fictional_guacamole_spark.sources.replay import REPLAY_SCHEMA
    from fictional_guacamole_spark.streaming.frames import parse_gdax_frames

    raw = spark.createDataFrame(
        [(i, loadgen.encode(f)) for i, f in enumerate(frames)], REPLAY_SCHEMA)
    raw = raw.repartition(spark.sparkContext.defaultParallelism).cache()
    raw.count()
    with tracer.span("streaming.frames.parse"):
        t = time.perf_counter()
        parse_gdax_frames(raw).write.format("noop").mode("overwrite").save()
        parse_s = time.perf_counter() - t
    replay = apply_book_kernel(
        parse_gdax_frames(raw).withColumn("seq", F.col("sequence"))
        .dropDuplicates(["product_id", "seq"]))
    plan = replay._jdf.queryExecution().executedPlan().toString()
    with tracer.span("plans.book_batch_replay"):
        t = time.perf_counter()
        replay.write.format("noop").mode("overwrite").save()
        replay_s = time.perf_counter() - t
    raw.unpersist()
    exchanges = sum(1 for line in plan.splitlines() if "Exchange" in line)
    return {"parse_frames_per_s": len(frames) / parse_s,
            "batch_replay_s": replay_s, "exchanges": exchanges}


def _files(sink: Path, batch_ids: list[int]) -> tuple[int, int]:
    n = size = 0
    for sub in ("books", "trades", "gaps"):
        for b in batch_ids:
            for dirpath, _dirs, files in os.walk(sink / sub / f"_batch={b}"):
                for fn in files:
                    if fn.endswith(".parquet"):
                        n += 1
                        size += os.path.getsize(os.path.join(dirpath, fn))
    return n, size


def _pct(values: list[float], q: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def layer_metrics(spark, tmp: Path, result: dict, checks: dict,
                  tracer: Tracer) -> dict:
    from fictional_guacamole_spark.streaming.backfill import _repair_partitions

    batches = result["batches"]
    ids = [p["batchId"] for p in batches]

    def ms(key):
        return [p["durationMs"].get(key, 0) for p in result["measured"]]

    kernel_ops = [state_op(p, "applyInPandasWithState") for p in batches]
    with tracer.span("operators.book.kernel"):
        kernel_fps = kernel_single_thread(checks["rows"])
    committed = result["frames"][:result["committed"]]
    probes = batch_probes(spark, committed[:PROBE_FRAMES], tracer)
    files, size = _files(tmp / "sink", ids)
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(result["run_id"])
    read = [a + b for a, b in zip(ms("latestOffset"), ms("getBatch"))]
    checkpoint = [a + b for a, b in zip(ms("walCommit"), ms("commitOffsets"))]
    m = {
        "sources.read_ms_p50": statistics.median(read),
        "sources.read_ms_p99": _pct(read, 99),
        "streaming.frames.parse_frames_per_s": probes["parse_frames_per_s"],
        "operators.book.kernel_frames_per_s": kernel_fps,
        "operators.book.state_rows": kernel_ops[-1]["numRowsTotal"],
        "operators.book.state_bytes": kernel_ops[-1]["memoryUsedBytes"],
        "operators.book.state_commit_ms_p50": statistics.median(
            op["commitTimeMs"] for op in kernel_ops),
        "operators.book.emit_ratio": checks["books"] / checks["book_frames"],
        "streaming.pipeline.trigger_ms_p50": statistics.median(ms("triggerExecution")),
        "streaming.pipeline.trigger_ms_p99": _pct(ms("triggerExecution"), 99),
        "streaming.pipeline.add_batch_ms_p50": statistics.median(ms("addBatch")),
        "streaming.pipeline.checkpoint_ms_p50": statistics.median(checkpoint),
        "streaming.pipeline.batches": len(result["measured"]),
        "streaming.pipeline.spark_jobs_per_batch": len(jobs) / len(batches),
        "streaming.pipeline.dedupe_dropped": checks["dropped"],
        "streaming.pipeline.files_written": files,
        "streaming.pipeline.bytes_written": size,
        "streaming.backfill.ranges": checks["gaps"],
        "streaming.backfill.ids_repaired": checks["repaired"],
        "streaming.backfill.repair_tasks":
            checks["batches_with_gaps"] * _repair_partitions(spark),
        "plans.book_batch_replay_s": probes["batch_replay_s"],
        "plans.book_batch_replay.exchanges": probes["exchanges"],
    }
    self_s = tracer.self_times()
    for name in TRACED_SPANS:
        m[f"trace.{name}.self_ms"] = self_s.get(name, 0.0) * 1000
    return m


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------

def sized(workload: str, seconds: float, tiny: bool) -> tuple[dict, dict]:
    """The workload's mix and run parameters; ``tiny`` shrinks the inputs
    for the benchmark's own smoke tests."""
    w = WORKLOADS[workload]
    mix = {k: v["value"] for k, v in w["mix"].items()}
    run = {k: v["value"] for k, v in w["run"].items()}
    if tiny and workload == "book_replay":
        run.update(capture_frames=2000, frames_per_batch=1000)
    elif tiny:
        run.update(rate=100, warmup_frames=150)
    if "rate" in run:
        # one warm-up burst, then the schedule
        run["capture_frames"] = run["warmup_frames"] + int(run["rate"] * seconds)
    return mix, run


def run_workload(a, tmp: Path, cpus: int) -> dict:
    tracer = Tracer(bool(a.trace))
    sampler = RssSampler()
    if a.trace:  # peak memory is a per-layer metric; keep /proc scans off untraced runs
        sampler.start()
    mix, run = sized(a.workload, a.seconds, a.tiny)
    spec = dict(mix, frames=run["capture_frames"])
    spark = None
    try:
        t_setup = time.perf_counter()
        with tracer.span("setup.session"):
            spark = start_spark()
        session_s = time.perf_counter() - t_setup
        with tracer.span("setup.generate"):
            capture = loadgen.generate(a.seed, spec)
            if a.workload == "book_replay":
                loadgen.write_capture(str(tmp / "capture.jsonl"), capture)
        setup_s = time.perf_counter() - t_setup
        gen_s = setup_s - session_s

        with tracer.span("run.stream") as stream_span:
            if a.workload == "book_replay":
                result = measure_replay(spark, tmp, capture, run)
            else:
                result = measure_live(spark, tmp, a.seed, spec, run, sampler)
        setup_s += result["cold"][1] - result["cold"][0]
        warm = tracer.add("setup.warmup", *result["cold"], stream_span)
        trace_triggers(tracer, result["batches"][:1], warm)
        trace_triggers(tracer, result["measured"], stream_span)
        t = time.perf_counter()
        with tracer.span("check.outputs"):
            checks = check_outputs(tmp, result, capture)
        check_s = time.perf_counter() - t
        layers = (layer_metrics(spark, tmp, result, checks, tracer)
                  if a.trace else {})
    finally:
        t = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        reap_children()
        if a.trace:
            sampler.stop()
        teardown_s = time.perf_counter() - t

    e2e = {
        "setup_s": setup_s,
        "frames_per_s": result["frames_per_s"],
        "latency_p50_s": statistics.median(result["latency"]),
        "latency_p98_s": _pct(result["latency"], 98),
    }
    if layers:
        layers["host.peak_rss_mb"] = sampler.peak / 2**20
    failed = sum(checks["mismatches"].values())
    return {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "tiny": a.tiny, "cpus": cpus,
        "pyspark": __import__("pyspark").__version__,
        "params": {"mix": mix, "run": run},
        "committed_frames": result["committed"],
        "mismatches": checks["mismatches"],
        "attempted": result["committed"], "failed": min(failed, result["committed"]),
        "end_to_end": e2e, "per_layer": layers,
        # where the run's wall time went, and each batch's phases
        "phases_s": {"session": session_s, "generate": gen_s,
                     "cold": result["cold"][1] - result["cold"][0],
                     "stop": result["stop_s"], "check": check_s,
                     "teardown": teardown_s},
        "batch_ms": [dict(p["durationMs"], rows=p["numInputRows"])
                     for p in result["batches"]],
        "loadgen_late_p99_s": (_pct(result["late_s"], 99)
                               if "late_s" in result else None),
        "spans": tracer.to_json(),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="small inputs, for the benchmark's own smoke tests")
    a = ap.parse_args(argv)
    if not (ROOT / "fictional_guacamole_spark" / "__init__.py").is_file():
        print(f"perfbench: no fictional_guacamole_spark package in {ROOT}",
              file=sys.stderr)
        return 2

    tmp = WORK / f"tmp-{os.getpid()}"
    try:
        cpus = prepare_env(tmp)
        out = run_workload(a, tmp, cpus)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    chosen = out["per_layer"] if a.trace else out["end_to_end"]
    units = PER_LAYER if a.trace else UNITS
    metrics = {k: {"value": chosen[k], "unit": units[k]} for k in units}
    correct = out["failed"] == 0
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(
        json.dumps(dict(out, correct=correct), indent=1, default=str))

    print(f"# workload={a.workload} seed={a.seed} seconds={a.seconds} "
          f"cpus={out['cpus']} pyspark={out['pyspark']} "
          f"committed_frames={out['committed_frames']}")
    if out["loadgen_late_p99_s"] is not None:
        print(f"# loadgen late p99 {out['loadgen_late_p99_s']:.4f} s")
    for name, mis in out["mismatches"].items():
        print(f"# check {name}: {'ok' if mis == 0 else f'{mis} mismatching'}")
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
