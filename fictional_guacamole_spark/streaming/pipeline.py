"""Pipeline wiring: source → parse → stateful kernel → sinks, plus the
schema-compat views that reproduce the reference's exact table shapes.

Lifecycle (SURVEY.md §3.4): a raw frame stream (websocket live / replay in
tests) is parsed to FRAME_SCHEMA (streaming/frames.py), run through one
``applyInPandasWithState`` kernel keyed by product_id (operators/book.py),
and the tagged output is demuxed in ``foreachBatch`` into three parquet
sink tables — book snapshots, trades, gap audit — with trade gaps repaired
by the backfill operator before the batch commits. Micro-batches replace
the reference's Redis hand-off (T7); the per-row-INSERT sink
(/root/reference/db_utils.py:24-31) becomes vectorized columnar appends.

Scale posture: sink tables are partitioned by product_id (and date at
cluster scale); the stateful shuffle is keyed by product_id so book state
for distinct products lives on distinct executors; checkpointing makes
restarts exactly-once into the idempotent parquet appends.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fictional_guacamole_spark.operators.book import (
    BOOK_DEPTH, apply_book_kernel)
from fictional_guacamole_spark.streaming.backfill import Fetcher, repair_frame

TRADE_SINK_SCHEMA = ("product_id string, server_ts timestamp, "
                     "exchange_ts timestamp, sequence long, trade_id long, "
                     "price string, volume string, side string, "
                     "backfilled boolean")

BOOK_COLS = ["product_id", "server_ts", "bids", "asks"]
TRADE_COLS = ["product_id", "server_ts", "exchange_ts", "sequence",
              "trade_id", "price", "volume", "side", "backfilled"]
GAP_COLS = ["product_id", "server_ts", "gap_first_id", "gap_last_id"]

logger = logging.getLogger("fictional_guacamole_spark.pipeline")


STALE_COLS = ["product_id", "server_ts"]


def demux_outputs(out: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Split the kernel's tagged union into (books, trades, gaps)."""
    books = out.filter(F.col("out_type") == "book").select(*BOOK_COLS)
    trades = out.filter(F.col("out_type") == "trade").select(*TRADE_COLS)
    gaps = out.filter(F.col("out_type") == "gap").select(*GAP_COLS)
    return books, trades, gaps


# Bound on gap RANGES repaired per micro-batch. Gaps arrive as coalesced
# ranges (SURVEY §2.1 S3), so in normal operation this is single digits —
# but an exchange outage can emit an outage-sized burst, and repairing an
# unbounded burst in one batch would stall the trigger behind REST paging.
# The repair itself is executor-side (backfill.repair_frame maps the
# fetcher over the ranges frame), so the cap bounds trigger LATENCY, not
# driver memory. Ranges past the cap are NOT repaired in-batch; they
# remain durably recorded in the gaps sink, and a later repair pass can
# find them by anti-joining the gaps sink against backfilled trades.
MAX_BACKFILL_RANGES_PER_BATCH = int(
    os.environ.get("SPARK_GRAFT_MAX_BACKFILL_RANGES", "10000"))


def make_batch_writer(sink_dir: str, fetcher: Fetcher | None = None,
                      max_backfill_ranges: int = MAX_BACKFILL_RANGES_PER_BATCH,
                      stale_sink: bool = False):
    """Build the foreachBatch callable (factored out so the overflow path
    is testable without a live stream). ``stale_sink``: also demux
    ``out_type="stale"`` alarm rows (the book kernel's stale-book
    timeout) into their own parquet sink."""

    def write_idempotent(df: DataFrame, sub: str, batch_id: int) -> None:
        """Exactly-once append: each write lands in a `_batch=<id>`
        partition with dynamic overwrite, so a replayed micro-batch (after
        a crash between sink write and checkpoint commit) REPLACES its own
        partition instead of duplicating rows. This is the parquet
        equivalent of a transactional sink's (queryId, batchId) dedup."""
        (df.withColumn("_batch", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_batch", "product_id")
         .parquet(os.path.join(sink_dir, sub)))

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # CACHE the micro-batch before demuxing (r14, measured at sf1):
        # every foreachBatch ACTION re-executes the batch plan from the
        # source — INCLUDING the stateful kernel and its state-store
        # round trips — and this writer runs 3 actions per healthy batch
        # (books write, gap count, trades write) plus the gap audit when
        # there are gaps and 2 more with the stale sink armed. persist()
        # makes the kernel run once per trigger (the multi-sink
        # foreachBatch pattern Spark's own docs prescribe); values are
        # unchanged, only execution count.
        batch_df.persist()
        try:
            books, trades, gaps = demux_outputs(batch_df)
            write_idempotent(books, "books", batch_id)
            # gaps are empty for most healthy micro-batches: count once
            # and gate the repair, the cap warning and the audit sink on it
            n_ranges = gaps.count()
            # backfill BEFORE the trades write so live + repaired rows
            # land in one idempotent write (a second write into the same
            # _batch partition would overwrite the first). The repair is
            # fully executor-side: the bounded RANGES frame (never rows —
            # see MAX_BACKFILL_RANGES_PER_BATCH above) maps through the
            # fetcher with mapInPandas, so an outage-sized gap expands to
            # its id width inside executor tasks, and the driver never
            # holds a repaired row (r12 verdict weak-row fix).
            if fetcher is not None and n_ranges:
                ranges = gaps
                # a burst past the cap is LOUD — the dropped ranges stay
                # durable in the gaps sink below, but silence here would
                # contradict the engine's no-silent-caps posture. limit()
                # collapses the ranges to one partition, so only this
                # branch takes it.
                if n_ranges > max_backfill_ranges:
                    logger.warning(
                        "backfill cap hit in batch %d: %d gap ranges "
                        "exceed max_backfill_ranges=%d; %d ranges NOT "
                        "repaired in-batch (recorded in the gaps sink; "
                        "raise SPARK_GRAFT_MAX_BACKFILL_RANGES or run a "
                        "catch-up pass)", batch_id, n_ranges,
                        max_backfill_ranges,
                        n_ranges - max_backfill_ranges)
                    ranges = gaps.limit(max_backfill_ranges)
                repaired = repair_frame(ranges, fetcher)
                trades = trades.unionByName(repaired.select(*TRADE_COLS))
            write_idempotent(trades, "trades", batch_id)
            if n_ranges:
                # the FULL distributed gaps frame — including any ranges
                # past the in-batch repair cap — lands in the audit sink
                write_idempotent(gaps, "gaps", batch_id)
            if stale_sink:
                stale = (batch_df.filter(F.col("out_type") == "stale")
                         .select(*STALE_COLS))
                if not stale.isEmpty():
                    write_idempotent(stale, "stale", batch_id)
        finally:
            batch_df.unpersist()

    return write_batch


def run_pipeline(
    frames: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    fetcher: Fetcher | None = None,
    query_name: str = "exchange_pipeline",
    dedupe_horizon: str | None = None,
    stale_after_s: int | None = None,
):
    """Start the streaming query over an already-parsed FRAME_SCHEMA stream.

    Returns the StreamingQuery. Sinks are parquet directories under
    ``sink_dir``: books/, trades/, gaps/ (+ stale/ with the stale-book
    alarm armed).

    ``dedupe_horizon`` (e.g. ``"10 minutes"``): drop re-delivered frames by
    (product_id, seq) within an event-time watermark BEFORE the stateful
    kernel. At-least-once transports (a reconnecting websocket, a replayed
    upstream queue) can duplicate frames; replaying a duplicate into the
    kernel would double-apply book deltas and re-emit trades.
    ``dropDuplicatesWithinWatermark`` keeps dedup state bounded by the
    horizon instead of growing with the stream (SURVEY §2.5 streaming row)
    — Spark 4 supports chaining it ahead of the stateful kernel.

    ``stale_after_s`` arms the stale-book alarm: a product whose book goes
    that many event-time seconds without a frame gets one row in stale/.
    The alarm is the book kernel's event-time timeout, so it needs the
    watermark ``dedupe_horizon`` sets; arming it without one raises
    ValueError. Armed or not, the book runs on the one
    applyInPandasWithState kernel (operators/book.py).
    """
    if stale_after_s is not None and dedupe_horizon is None:
        raise ValueError(
            "stale_after_s needs an event-time watermark to fire: pass "
            'dedupe_horizon (e.g. "10 minutes")')
    if dedupe_horizon is not None:
        frames = (frames.withWatermark("server_ts", dedupe_horizon)
                  .dropDuplicatesWithinWatermark(["product_id", "seq"]))
    out = apply_book_kernel(frames, stale_after_s=stale_after_s)
    return (out.writeStream
            .foreachBatch(make_batch_writer(
                sink_dir, fetcher, stale_sink=stale_after_s is not None))
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .queryName(query_name)
            .start())


# ---------------------------------------------------------------------------
# Reference-schema compatibility views (K3/K4 parity)
# ---------------------------------------------------------------------------

def book_compat_view(books: DataFrame, depth: int = BOOK_DEPTH) -> DataFrame:
    """Engine-native book rows (arrays of packed levels) → the reference's
    32-column TEXT shape: server_datetime, product_id, bids_1..bids_15,
    asks_1..asks_15 (/root/reference/schema/gdax_schema.sql:8-41), each a
    ``"{volume}@{price}"`` string (real_guac.py:73-74). Shallow books yield
    NULL in the unused level columns (the reference crashed instead)."""
    ts_fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"  # strftime('%Y-%m-%dT%H:%M:%S.%f%Z')
    # with naive datetimes, %Z renders '' — format has no suffix
    cols = [F.date_format("server_ts", ts_fmt).alias("server_datetime"),
            F.col("product_id")]
    cols += [F.col("bids")[i].alias(f"bids_{i + 1}") for i in range(depth)]
    cols += [F.col("asks")[i].alias(f"asks_{i + 1}") for i in range(depth)]
    return books.select(*cols)


def trades_compat_view(trades: DataFrame) -> DataFrame:
    """Typed trade rows → the reference's 9-column all-TEXT trades shape
    (/root/reference/schema/gdax_schema.sql:43-53): stringified timestamps,
    ``'None'`` for backfilled sequence (redis_worker.py:67), ``'True'``/
    ``'False'`` booleans (real_guac.py:101,129)."""
    ts_fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    return trades.select(
        F.date_format("server_ts", ts_fmt).alias("server_datetime"),
        F.date_format("exchange_ts", ts_fmt).alias("exchange_datetime"),
        F.coalesce(F.col("sequence").cast("string"), F.lit("None")).alias("sequence"),
        F.col("trade_id").cast("string").alias("trade_id"),
        F.col("product_id"),
        F.col("price"), F.col("volume"), F.col("side"),
        F.when(F.col("backfilled"), "True").otherwise("False").alias("backfilled"),
    )


def export_csv(df: DataFrame, path: str) -> None:
    """K4: CSV export with header (the reference's only read path,
    /root/reference/export_to_csv.py:8-18)."""
    df.write.mode("overwrite").option("header", True).csv(path)


def create_sink_tables(spark: SparkSession, sink_dir: str) -> None:
    """K3: declare the sink tables in the catalog over the parquet dirs
    (the reference's DDL migration, db_utils.py:34-45, becomes idempotent
    CREATE TABLE ... USING PARQUET LOCATION)."""
    specs = {
        "exchange_books": ("books", "server_ts TIMESTAMP, "
                                    "bids ARRAY<STRING>, asks ARRAY<STRING>"),
        "exchange_trades": ("trades", "server_ts TIMESTAMP, "
                                      "exchange_ts TIMESTAMP, sequence BIGINT, "
                                      "trade_id BIGINT, price STRING, "
                                      "volume STRING, side STRING, "
                                      "backfilled BOOLEAN"),
        "exchange_gaps": ("gaps", "server_ts TIMESTAMP, "
                                  "gap_first_id BIGINT, gap_last_id BIGINT"),
    }
    for table, (sub, ddl) in specs.items():
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(
            f"CREATE TABLE {table} ({ddl}, _batch BIGINT, product_id STRING) "
            f"USING PARQUET PARTITIONED BY (_batch, product_id) "
            f"LOCATION '{os.path.join(sink_dir, sub)}'")
        spark.sql(f"ALTER TABLE {table} RECOVER PARTITIONS")
