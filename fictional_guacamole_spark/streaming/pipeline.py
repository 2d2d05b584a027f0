"""Pipeline wiring: source → parse → stateful kernel → sinks, plus the
schema-compat views that reproduce the reference's exact table shapes.

Lifecycle (SURVEY.md §3.4): a raw frame stream (websocket live / replay in
tests) is parsed to FRAME_SCHEMA (streaming/frames.py), run through one
``applyInPandasWithState`` kernel keyed by product_id (operators/book.py),
and ``foreachBatch`` writes each tagged micro-batch in ONE action: the
kernel's tasks repair their trade gaps and stage the parquet sinks — book
snapshots, trades, gap audit — that the driver publishes. Micro-batches
replace the reference's Redis hand-off (T7); the per-row-INSERT sink
(/root/reference/db_utils.py:24-31) becomes vectorized columnar appends.

Scale posture: sink tables are partitioned by product_id (and date at
cluster scale); the stateful shuffle is keyed by product_id so book state
for distinct products lives on distinct executors; checkpointing plus the
per-batch publish makes restarts exactly-once.
"""

from __future__ import annotations

import glob
import logging
import os
import shutil
import sys
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fictional_guacamole_spark.operators.book import (
    BOOK_DEPTH, OUTPUT_COLUMNS, OUTPUT_SCHEMA, apply_book_kernel)
from fictional_guacamole_spark.streaming.backfill import Fetcher, backfill_gaps

# out_type → (sink directory, columns in its files); product_id is the
# partition column, so it lives in the path only
SINKS = {out_type: (sub, [c for c in OUTPUT_COLUMNS[out_type]
                          if c != "product_id"])
         for out_type, sub in [("book", "books"), ("trade", "trades"),
                               ("gap", "gaps"), ("stale", "stale")]}

logger = logging.getLogger("fictional_guacamole_spark.pipeline")


def demux_outputs(out: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Split the kernel's tagged union into (books, trades, gaps)."""
    books, trades, gaps = (
        out.filter(F.col("out_type") == out_type)
        .select(*OUTPUT_COLUMNS[out_type])
        for out_type in ("book", "trade", "gap"))
    return books, trades, gaps


# Bound on gap RANGES repaired per writer TASK in a micro-batch. Gaps
# arrive as coalesced ranges (SURVEY §2.1 S3), so normally single digits,
# but an outage-sized burst would stall the trigger behind REST paging.
# The kernel hash-partitions by product_id, so a product's ranges share
# one task and the cap is never stricter than a per-batch one. Ranges
# past it stay durably recorded in the gaps sink, unrepaired; a later
# pass can find them by anti-joining gaps against backfilled trades.
MAX_BACKFILL_RANGES_PER_BATCH = int(
    os.environ.get("SPARK_GRAFT_MAX_BACKFILL_RANGES", "10000"))

# characters Spark's writer escapes in partition values (%XX)
_ESCAPED = frozenset('"#%\'*/:=?\\\x7f{[]^') | {chr(c) for c in range(1, 32)}


def _partition_dir(product: str | None) -> str:
    """``product_id=<p>``, named as Spark's partitioned writer names it:
    null and the empty string both go to the default partition."""
    if not product:
        return "product_id=__HIVE_DEFAULT_PARTITION__"
    return "product_id=" + "".join(
        f"%{ord(c):02X}" if c in _ESCAPED else c for c in product)


def _stage_task(stage: str, fetcher: Fetcher | None, max_ranges: int):
    """The writer's mapInArrow function: one kernel task's rows in,
    staged as parquet under ``stage`` with its gaps repaired; one
    ``(rows, past_cap)`` commit row out."""

    def task(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        batches = list(batches)
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        # timestamps are UTC instants whatever the session time zone
        tbl = tbl.cast(pa.schema(
            [f.with_type(pa.timestamp("us", "UTC"))
             if pa.types.is_timestamp(f.type) else f for f in tbl.schema]))
        past_cap = 0
        if fetcher is not None:
            ranges = tbl.filter(pc.equal(tbl["out_type"], "gap")).select(
                ["product_id", "gap_first_id", "gap_last_id"]).to_pylist()
            past_cap = max(0, len(ranges) - max_ranges)
            repaired = backfill_gaps(ranges[:max_ranges], fetcher)
            if repaired:
                tbl = pa.concat_tables(
                    [tbl, pa.Table.from_pylist(repaired, schema=tbl.schema)])
        # one file per (sink, product) per task; a retried task rewrites
        # its own file instead of adding a second one
        part = f"part-{TaskContext.get().partitionId():05d}.parquet"
        for out_type in pc.unique(tbl["out_type"]).to_pylist():
            if out_type not in SINKS:
                continue
            sub, cols = SINKS[out_type]
            rows = tbl.filter(pc.equal(tbl["out_type"], out_type))
            # null and "" share one partition directory, so one file
            pid = pc.fill_null(rows["product_id"], "")
            for product in pc.unique(pid).to_pylist():
                out_dir = os.path.join(stage, sub, _partition_dir(product))
                os.makedirs(out_dir, exist_ok=True)
                pq.write_table(
                    rows.filter(pc.equal(pid, product)).select(cols),
                    os.path.join(out_dir, part))
        yield pa.RecordBatch.from_pydict(
            {"rows": [tbl.num_rows], "past_cap": [past_cap]})

    return task


def make_batch_writer(sink_dir: str, fetcher: Fetcher | None = None,
                      max_backfill_ranges: int = MAX_BACKFILL_RANGES_PER_BATCH):
    """Build the foreachBatch callable; each trigger runs ONE action.

    Each task of the kernel's output repairs the gap ranges it holds (at
    most ``max_backfill_ranges``) and stages one parquet file per (sink,
    product) under ``<sink_dir>/_staging/<batch_id>-<uuid>/``. The driver
    then replaces each sink's ``_batch=<id>`` with the staged one, so a
    replayed micro-batch replaces the whole batch instead of duplicating
    rows, and removes the batch's staging directories whether the attempt
    succeeded or not. Sinks: books/, trades/, gaps/, and stale/ when the
    stale-book alarm fires.

    ``sink_dir`` is a local path (or a mount every executor sees at the
    same path), as every caller passes: tasks write it with pyarrow and
    the driver publishes with ``os.replace``.
    """
    # the fetcher is user-supplied and often lives in a module executor
    # workers can't import (a test file, a deploy script); register its
    # module for by-value pickling so the callable travels inside the
    # task closure itself (same fix as pyds._register_by_value)
    mod = sys.modules.get(getattr(fetcher, "__module__", "") or "")
    if mod is not None and not mod.__name__.startswith(
            ("fictional_guacamole_spark", "pyspark")):
        try:
            from pyspark import cloudpickle
            cloudpickle.register_pickle_by_value(mod)
        except Exception:  # __main__ / builtins: already pickled by value
            pass
    staging = os.path.join(sink_dir, "_staging")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        stage = os.path.join(staging, f"{batch_id}-{uuid.uuid4().hex}")
        try:
            commits = batch_df.mapInArrow(
                _stage_task(stage, fetcher, max_backfill_ranges),
                "rows long, past_cap long").collect()
            past_cap = sum(c.past_cap for c in commits)
            if past_cap:
                # a burst past the cap is LOUD — the unrepaired ranges
                # stay durable in the gaps sink, but silence here would
                # contradict the engine's no-silent-caps posture
                logger.warning(
                    "backfill cap hit in batch %d: %d ranges NOT repaired "
                    "in-batch, past max_backfill_ranges=%d per task "
                    "(recorded in the gaps sink; raise "
                    "SPARK_GRAFT_MAX_BACKFILL_RANGES or run a catch-up "
                    "pass)", batch_id, past_cap, max_backfill_ranges)
            for sub, _cols in SINKS.values():
                final = os.path.join(sink_dir, sub, f"_batch={batch_id}")
                shutil.rmtree(final, ignore_errors=True)
                if os.path.isdir(os.path.join(stage, sub)):
                    os.makedirs(os.path.dirname(final), exist_ok=True)
                    os.replace(os.path.join(stage, sub), final)
            logger.debug("batch %d: published %d rows", batch_id,
                         sum(c.rows for c in commits))
        finally:
            for leftover in glob.glob(os.path.join(staging, f"{batch_id}-*")):
                shutil.rmtree(leftover, ignore_errors=True)
            try:
                os.rmdir(staging)
            except OSError:  # already gone, or not empty
                pass

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

    Returns the StreamingQuery. Sinks are parquet directories under the
    local path ``sink_dir``: books/, trades/, gaps/ (+ stale/ with the
    stale-book alarm armed), written by :func:`make_batch_writer`.

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
    ValueError. The row lands in the trigger whose watermark reaches the
    deadline; a product whose first frame lands more than that many
    seconds behind the watermark alarms on the next watermark advance,
    not in the same trigger. Armed or not, the book runs on the one
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
            .foreachBatch(make_batch_writer(sink_dir, fetcher))
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
    CREATE TABLE ... USING PARQUET LOCATION). Each table's columns are its
    sink's, typed as in OUTPUT_SCHEMA."""
    types = {f.name: f.dataType.simpleString() for f in OUTPUT_SCHEMA.fields}
    for table, out_type in [("exchange_books", "book"),
                            ("exchange_trades", "trade"),
                            ("exchange_gaps", "gap")]:
        sub, cols = SINKS[out_type]
        ddl = ", ".join(f"{c} {types[c]}" for c in cols)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(
            f"CREATE TABLE {table} ({ddl}, _batch BIGINT, product_id STRING) "
            f"USING PARQUET PARTITIONED BY (_batch, product_id) "
            f"LOCATION '{os.path.join(sink_dir, sub)}'")
        spark.sql(f"ALTER TABLE {table} RECOVER PARTITIONS")
