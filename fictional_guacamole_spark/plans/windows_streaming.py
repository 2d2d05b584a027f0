"""Event-time windowing surface (SURVEY.md §2.5 streaming row): tumbling /
sliding / session windows in their batch form over the events fixture, each
with an exact DuckDB oracle (session windows via gaps-and-islands). The
same operators run as true streams with watermarks in
tests/test_event_streams.py — semantics are identical by construction,
which is the point: one declarative definition, batch or streaming
execution.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from fictional_guacamole_spark.functions import timeseries as _TS
from fictional_guacamole_spark.plans.compat import (
    dec_to_double_exact, dsum, scoped_shuffle_partitions,
    sql_dec_to_double_exact, sql_dsum)
from fictional_guacamole_spark.plans.registry import query
from fictional_guacamole_spark.tables import load_table


@query(
    "stream_tumbling_window",
    survey_ref="§2.5 streaming: tumbling window agg",
    description="Per-hour tumbling window: event counts + value sum by type",
    oracle=f"""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             dsum(F.col("value")).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "total_value")
        .orderBy("window_start", "event_type")
    )


@query(
    "stream_sliding_window",
    survey_ref="§2.5 streaming: sliding window agg",
    description="2h windows sliding by 1h: value sum per window",
    oracle=f"""
    WITH expanded AS (
      SELECT time_bucket(INTERVAL 1 HOUR, ts)
               - unnest([INTERVAL 0 HOUR, INTERVAL 1 HOUR]) AS window_start,
             value
      FROM events)
    SELECT window_start, COUNT(*) AS n_events,
           {sql_dsum('value')} AS total_value
    FROM expanded
    GROUP BY window_start
    ORDER BY window_start
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # each event belongs to window_duration/slide = 2 windows; Spark's
    # window() explodes exactly like the oracle's unnest of hour offsets
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             dsum(F.col("value")).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n_events",
                "total_value")
        .orderBy("window_start")
    )


@query(
    "stream_session_window",
    survey_ref="§2.5 streaming: session window (gap-based)",
    description="Per-user 30-min-gap sessions: bounds + event count",
    bench=True,
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    sessions AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged)
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # session_window end = last event + gap; the oracle reproduces that via
    # gaps-and-islands (the batch formulation of the same operator)
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"), "n_events")
        .orderBy("user_id", "session_start")
    )


@query(
    "agg_stats_moments",
    survey_ref="§2.5 aggregations (statistical moments)",
    description="Sample stddev/variance per return flag via exact sum-of-squares",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n,
           {sql_dsum('l_quantity')} AS s1,
           {sql_dec_to_double_exact(
               'SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,10)))')} AS s2,
           sqrt(({sql_dsum('l_quantity * l_quantity')}
                 - {sql_dsum('l_quantity')} * {sql_dsum('l_quantity')}
                   / COUNT(*)) / (COUNT(*) - 1)) AS stddev_qty
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stddev/variance as derived expressions over exact decimal sums —
    order-insensitive and engine-portable, unlike naive double
    accumulation (F.stddev would differ bitwise between engines)."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    n = F.count(F.lit(1))
    s1 = dec_to_double_exact(F.sum(q.cast("decimal(25,6)")))
    s2 = dec_to_double_exact(F.sum((q * q).cast("decimal(30,10)")))
    s1b = dec_to_double_exact(F.sum((q * q).cast("decimal(25,6)")))
    return (
        li.groupBy("l_returnflag")
        .agg(n.alias("n"), s1.alias("s1"), s2.alias("s2"),
             F.sqrt((s1b - s1 * s1 / n) / (n - F.lit(1))).alias("stddev_qty"))
        .orderBy("l_returnflag")
    )


@query(
    "agg_grouping_sets",
    survey_ref="§2.5 aggregations (grouping sets + grouping_id)",
    description="Explicit GROUPING SETS with grouping() disambiguation",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) AS g_status,
           GROUPING(o_orderpriority) AS g_priority,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY g_status, g_priority, o_orderstatus NULLS FIRST,
             o_orderpriority NULLS FIRST
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY g_status, g_priority, o_orderstatus NULLS FIRST,
                 o_orderpriority NULLS FIRST
    """)


@query(
    "stream_engine_hourly_counts",
    survey_ref="§2.5 streaming: EXECUTED through the micro-batch engine "
               "(readStream → windowed agg → memory sink)",
    description="Hourly event counts computed by an actual Structured "
                "Streaming query (multi-micro-batch, complete mode)",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
)
def stream_engine_hourly_counts(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The one judged row whose computation RUNS through the streaming
    engine: the sibling window queries share semantics with their
    streaming form by construction (batch mode, same operator); this one
    actually drives readStream → micro-batches (maxFilesPerTrigger=1
    over a 4-file copy, so the state updates incrementally across ≥4
    triggers) → windowed aggregation in COMPLETE output mode → memory
    sink, then returns the sink table. Complete mode makes the final
    state deterministic regardless of trigger boundaries — every window
    reflects all input once the stream drains — which is what lets a
    batch SQL oracle judge a genuinely streaming execution. (The
    append-mode + watermark variants, where trailing windows are
    withheld by design, are integration-tested in
    tests/test_event_streams.py.)"""
    import hashlib
    import os
    import shutil
    import tempfile
    import uuid

    src = os.path.join(sf_dir, "events.parquet")
    tag = hashlib.md5(
        f"strmsrc1:{src}:{os.path.getmtime(src)}".encode()).hexdigest()[:12]
    base = os.path.join(tempfile.gettempdir(), f"fg_strmsrc_{tag}")
    if not os.path.exists(base):
        build = f"{base}.build.{os.getpid()}"  # private build, atomic publish
        load_table(spark, sf_dir, "events").coalesce(4) \
            .write.mode("overwrite").parquet(build)
        try:
            os.rename(build, base)
        except OSError:
            shutil.rmtree(build, ignore_errors=True)

    name = f"fg_stream_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="fg_stream_ckpt_")
    stream = _events_stream(spark, base)
    agg = (stream
           .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.sum(F.floor(F.col("value") * 100)).alias("value_cents")))
    with _stream_state_partitions(spark):
        q = (agg.writeStream.format("memory").queryName(name)
             .outputMode("complete")
             .option("checkpointLocation", ckpt)
             .start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
    return (spark.table(name)
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "value_cents")
            .orderBy("window_start", "event_type"))


def _stream_state_partitions(spark: SparkSession, n: int = 4):
    """Scope ``spark.sql.shuffle.partitions`` down for one engine-executed
    judged row (a thin alias of :func:`compat.scoped_shuffle_partitions`
    kept for the streaming-specific rationale). A Structured Streaming
    query pins its state-store partition count from this conf at
    checkpoint creation, and every micro-batch then pays per-partition
    state-store open/commit cost — at the judged SF a 32-partition store
    is ~8× pure overhead per trigger (measured: the stream-stream join
    drains 5× faster at 4). The value is a DEPLOYMENT sizing knob, not
    semantics: state is hash-partitioned by key, so the drained result
    set is identical at any count; at 100 TB you size it to executor
    count × cores once, when the checkpoint is first created. Restored
    after the drain so surrounding batch plans are untouched."""
    return scoped_shuffle_partitions(spark, n)


@contextmanager
def _rocksdb_state_store(spark: SparkSession):
    """Scope the RocksDB state store provider for one transformWithState
    drain. The repo's own session (session.py) sets it globally, but the
    round driver runs a BARE session whose default HDFSBacked provider
    cannot host the API's multiple column families
    (UNSUPPORTED_FEATURE.STATE_STORE_MULTIPLE_COLUMN_FAMILIES — caught
    by the /verify foreign-cwd bare-session recipe). The conf is read at
    query start, so a scoped runtime set is sufficient and is restored
    for surrounding plans."""
    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = ("org.apache.spark.sql.execution.streaming.state."
             "RocksDBStateStoreProvider")
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, rocks)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _time_clustered_events_copy(spark: SparkSession, sf_dir: str,
                                transform=None, salt: str = "",
                                cluster_col: str = "ts") -> str:
    """A 4-file copy of ``events`` range-partitioned on ``ts`` with
    ascending mtimes in range order, so a maxFilesPerTrigger=1 file
    source replays micro-batches in event-time order (the file source
    orders new files by mtime then path; the range partition index IS
    the path order — mtimes are set anyway, belt and braces). Shared by
    every judged row that drains the real engine deterministically:
    time-ascending replay keeps watermarks behind the next batch's
    minimum (no late drops) and keeps per-key arrival order equal to
    event-time order (the stateful-fold contract). Built once per
    (sf_dir, mtime) under an atomic rename; concurrent builders race
    benignly on private per-pid dirs. ``transform`` (optional) reshapes
    the frame before clustering — e.g. the dedup row doubles it — and
    MUST be paired with a distinct ``salt`` so variants never share a
    cache dir. ``cluster_col`` picks the replay-order column — the book
    kernel's frame fixture clusters on ``seq`` (its arrival-order
    contract) rather than ``ts``."""
    import hashlib
    import os
    import shutil
    import tempfile
    import time

    src = os.path.join(sf_dir, "events.parquet")
    tag = hashlib.md5(
        f"strmsrc_rng1:{salt}:{cluster_col}:{src}:{os.path.getmtime(src)}"
        .encode()
    ).hexdigest()[:12]
    base = os.path.join(tempfile.gettempdir(), f"fg_strmrng_{tag}")
    if not os.path.exists(base):
        build = f"{base}.build.{os.getpid()}"  # private build, atomic publish
        frame = load_table(spark, sf_dir, "events")
        if transform is not None:
            frame = transform(frame)
        frame.repartitionByRange(4, cluster_col) \
            .write.mode("overwrite").parquet(build)
        parts = sorted(f for f in os.listdir(build)
                       if f.endswith(".parquet"))
        t0 = time.time() - len(parts)  # ascending mtimes, range order
        for i, f in enumerate(parts):
            os.utime(os.path.join(build, f), (t0 + i, t0 + i))
        try:
            os.rename(build, base)
        except OSError:
            shutil.rmtree(build, ignore_errors=True)
    return base


def _ntile_bucketed_events_copy(spark: SparkSession, sf_dir: str,
                                n_buckets: int = 4) -> str:
    """A copy of ``events`` reduced to (user_id, bucket, event_id) with
    ``bucket = NTILE(n) OVER (ORDER BY ts, event_id)`` and exactly ONE
    parquet file per bucket, mtime-ascending in bucket order — so a
    maxFilesPerTrigger=1 replay makes micro-batch i ≡ bucket i, a batch
    boundary both Spark and the DuckDB oracle can name in closed form
    (``_time_clustered_events_copy``'s range split is sampling-derived
    and deliberately NOT oracle-addressable). The single-partition NTILE
    window is fixture construction, not a judged plan shape. Cached per
    (sf_dir, mtime) under an atomic rename like its range sibling."""
    import hashlib
    import os
    import shutil
    import tempfile
    import time

    src = os.path.join(sf_dir, "events.parquet")
    tag = hashlib.md5(
        f"ntilesrc1:{n_buckets}:{src}:{os.path.getmtime(src)}".encode()
    ).hexdigest()[:12]
    base = os.path.join(tempfile.gettempdir(), f"fg_ntile_{tag}")
    if not os.path.exists(base):
        build = f"{base}.build.{os.getpid()}"
        os.makedirs(build, exist_ok=True)
        frame = load_table(spark, sf_dir, "events").select(
            "user_id", "event_id",
            F.ntile(n_buckets).over(
                W.orderBy("ts", "event_id")).alias("bucket"))
        # persist: the per-bucket writes below would otherwise each
        # re-execute the single-partition global-sort window (r13 review)
        frame = frame.persist()
        t0 = time.time() - n_buckets
        try:
            for b in range(1, n_buckets + 1):
                part_dir = os.path.join(build, f"_b{b}")
                (frame.filter(F.col("bucket") == b).coalesce(1)
                 .write.mode("overwrite").parquet(part_dir))
                part = next(f for f in os.listdir(part_dir)
                            if f.endswith(".parquet"))
                dst = os.path.join(build, f"part-{b:05d}.parquet")
                os.rename(os.path.join(part_dir, part), dst)
                shutil.rmtree(part_dir, ignore_errors=True)
                os.utime(dst, (t0 + b, t0 + b))
        finally:
            frame.unpersist()
        try:
            os.rename(build, base)
        except OSError:
            shutil.rmtree(build, ignore_errors=True)
    return base


_EVENTS_STREAM_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                         "event_type string, value double, props string")


def _events_stream(spark: SparkSession, base: str):
    """The shared file-stream reader every engine-executed judged row
    drains: the events schema over a time-clustered copy, one file per
    trigger (so every drain is genuinely multi-micro-batch). ONE
    definition — a schema or trigger change cannot silently
    desynchronize judged siblings (late-r8 review finding)."""
    return (spark.readStream
            .schema(_EVENTS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(base))


def _purchase_view_sides(spark: SparkSession, base: str):
    """The two watermarked sides every stream-stream join row shares:
    purchases (purchase_id, p_user, purchase_ts) and views (view_id,
    v_user, view_ts), each 1h-watermarked AFTER its type filter — which
    is why the global watermark runs on per-side clocks (the
    stream_engine_outer_join finding).

    Round 16 (guide §6; r15 verdict task #3): BOTH sides derive from ONE
    ``readStream`` instance (a streaming self-join) instead of two
    separate file sources over the same directory. Two sources each paid
    their own per-trigger directory listing, offset-log entry and file
    read of the SAME file — pure duplicated source machinery, since the
    two sources advanced in lockstep (same dir, same maxFilesPerTrigger).
    One source halves that per-trigger cost and the checkpoint's offset
    log. Semantics are unchanged: each micro-batch still carries file i's
    rows to both sides, each side's watermark node still sits AFTER its
    type filter (so the per-side event-time clocks — and therefore the
    min-across-sides global watermark that drives outer-join emission —
    are computed from the identical row sets), and the drained result is
    the same deterministic batch-equivalent set, which the oracles pin
    row-for-row."""
    stream = _events_stream(spark, base)
    purchases = (stream
                 .filter(F.col("event_type") == "purchase")
                 .withWatermark("ts", "1 hour")
                 .select(F.col("event_id").alias("purchase_id"),
                         F.col("user_id").alias("p_user"),
                         F.col("ts").alias("purchase_ts")))
    views = (stream
             .filter(F.col("event_type") == "view")
             .withWatermark("ts", "1 hour")
             .select(F.col("event_id").alias("view_id"),
                     F.col("user_id").alias("v_user"),
                     F.col("ts").alias("view_ts")))
    return purchases, views


@query(
    "stream_engine_append_watermark",
    survey_ref="§2.5 streaming: watermarked APPEND mode through the "
               "micro-batch engine (readStream → withWatermark → windowed "
               "agg → append → memory sink)",
    description="Hourly event counts emitted by an actual append-mode "
                "Structured Streaming query: only watermark-finalized "
                "windows appear, trailing windows are withheld by design",
    oracle="""
    WITH agg AS (
      SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
             event_type,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
      FROM events
      GROUP BY 1, 2)
    SELECT window_start, event_type, n_events, value_cents
    FROM agg
    WHERE window_start + INTERVAL 1 HOUR
          <= (SELECT MAX(ts) - INTERVAL 1 HOUR FROM events)
    ORDER BY window_start, event_type
    """,
)
def stream_engine_append_watermark(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """APPEND output mode — the shape production pipelines actually run
    (complete mode re-emits all state every trigger; append emits each
    window exactly once, when the watermark passes its end, which is
    what makes an idempotent append-only sink possible). The emitted set
    after a bounded drain is deterministic: windows whose end <= final
    watermark = max(event time) - 1h; trailing windows are withheld by
    design, and the batch oracle replays exactly that cutoff.

    Two properties make the drain judgeable:

    - **Time-clustered source files.** The 4-file copy is
      ``repartitionByRange(ts)`` with mtimes set ascending in range
      order, so the file source (which orders by mtime, then path — and
      range partition index IS path order) replays time-ascending
      micro-batches. The watermark after batch i (max_i - 1h) then sits
      strictly below batch i+1's minimum, so NO row is ever
      late-dropped — drop semantics would otherwise depend on file
      order, which a batch oracle cannot replay.
    - **The no-data flush batch.** After the last data file, the engine
      runs a zero-data micro-batch (noDataMicroBatches, on by default)
      that advances the watermark and flushes newly-final windows to the
      sink before ``processAllAvailable`` returns — verified ≥5 batches
      for 4 files in tests/test_event_streams.py.

    At 100 TB the shape is identical: per-window partial aggregation
    map-side, one shuffle on (window, event_type), state store keyed the
    same, watermark eviction bounding state size — the engine's own
    scale path, not a reimplementation."""
    import shutil
    import tempfile
    import uuid

    base = _time_clustered_events_copy(spark, sf_dir)
    name = f"fg_streamwm_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="fg_streamwm_ckpt_")
    stream = _events_stream(spark, base)
    agg = (stream
           .withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.sum(F.floor(F.col("value") * 100)).alias("value_cents")))
    with _stream_state_partitions(spark):
        q = (agg.writeStream.format("memory").queryName(name)
             .outputMode("append")
             .option("checkpointLocation", ckpt)
             .start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
    return (spark.table(name)
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "value_cents")
            .orderBy("window_start", "event_type"))


@query(
    "stream_engine_stateful_ewma",
    survey_ref="§2.5 streaming: CUSTOM STATEFUL OPERATOR through the "
               "engine (applyInPandasWithState, bounded per-key state, "
               "exact pow-2 EWMA fold)",
    description="Per-user EWMA computed BY a custom applyInPandasWithState "
                "kernel draining the real micro-batch engine; final state "
                "hash-matches the batch window-aggregation oracle",
    oracle=_TS.sql_ewma_pow2("events", "user_id", ["ts", "event_id"],
                             "value") + " ORDER BY user_id",
)
def stream_engine_stateful_ewma(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The third engine-executed judged row, and the first through the
    CUSTOM-stateful-operator API: ``applyInPandasWithState`` carries 16
    cent-scaled longs + a counter per user across micro-batches
    (functions/timeseries.py::make_ewma_pow2_state_kernel) and re-emits
    the exact pow-2 closed form after each update; the drained sink's
    latest emission per key (largest n_seen — strictly increasing, so
    max_by is unambiguous) equals ewma_pow2's batch answer BIT-FOR-BIT,
    which the same DuckDB SQL as agg_ewma_user_value certifies. The
    determinism contract is the shared time-clustered replay
    (_time_clustered_events_copy): per-key arrival order across batches
    equals (ts, event_id) order because equal timestamps cannot straddle
    a range-partition boundary, and the kernel sorts within each batch.

    This is T1/T2/T5's execution model (keyed state folded over an
    ordered stream) certified end-to-end through the engine: state store
    keyed by user, one shuffle per micro-batch on the grouping key,
    state bounded at ~140 B/key forever — the 100 TB shape where the
    stream runs for months and distinct keys, not event volume, size the
    store. agg_ewma_user_value judges the same math as one batch window
    aggregation; this row certifies the ENGINE path that produces it
    incrementally."""
    import shutil
    import tempfile
    import uuid

    from fictional_guacamole_spark.functions.timeseries import (
        make_ewma_pow2_state_kernel)

    base = _time_clustered_events_copy(spark, sf_dir)
    name = f"fg_streamewma_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="fg_streamewma_ckpt_")
    stream = _events_stream(spark, base)
    folded = (stream
              .groupBy("user_id")
              .applyInPandasWithState(
                  make_ewma_pow2_state_kernel(
                      "user_id", ["ts", "event_id"], "value"),
                  outputStructType="user_id long, n_seen long, "
                                   "n_used long, ewma double",
                  stateStructType="n_seen bigint, recent string",
                  outputMode="update",
                  timeoutConf="NoTimeout"))
    with _stream_state_partitions(spark):
        q = (folded.writeStream.format("memory").queryName(name)
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
    # latest emission per key = the fold's final state (n_seen strictly
    # increases per update, so max_by is deterministic)
    return (spark.table(name)
            .groupBy("user_id")
            .agg(F.max_by(F.struct("n_used", "ewma"), "n_seen")
                 .alias("fin"))
            .select("user_id", F.col("fin.n_used").alias("n_used"),
                    F.col("fin.ewma").alias("ewma"))
            .orderBy("user_id"))


@query(
    "stream_engine_dedup_watermark",
    survey_ref="§2.5 streaming: dropDuplicatesWithinWatermark through "
               "the engine (duplicate-laden replay → exactly-once rows)",
    description="A doubled event stream deduplicated by the engine's "
                "watermarked dedup operator: every event emitted exactly "
                "once despite arriving twice",
    oracle="""
    SELECT event_id, ts, user_id, event_type,
           CAST(FLOOR(value * 100) AS BIGINT) AS value_cents
    FROM events
    ORDER BY event_id
    """,
)
def stream_engine_dedup_watermark(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The fourth engine-executed judged row, certifying the operator
    behind every at-least-once ingestion path (the reference's T4/T6
    idempotence problem, solved the engine's way): the source copy holds
    EVERY event TWICE (events unioned with itself, range-partitioned on
    ts so both copies of a row land in the same file and therefore the
    same micro-batch), and ``dropDuplicatesWithinWatermark`` on
    event_id emits each exactly once. Append mode emits first-seen rows
    immediately — nothing is withheld, so the drained sink equals the
    full distinct event set and the batch oracle is the plain SELECT.
    Determinism: duplicates co-arrive (same file), replay is
    time-ascending (no late drops), and dedup keeps the first of two
    IDENTICAL rows, so batch boundaries cannot change the emitted set.

    At 100 TB: state is one (event_id → seen) entry per key WITHIN the
    watermark horizon — eviction bounds the store by event-time span,
    not stream length; the shuffle is the dedup key partitioning the
    same way the sink's exactly-once write would shard anyway."""
    import shutil
    import tempfile
    import uuid

    base = _time_clustered_events_copy(
        spark, sf_dir, transform=lambda ev: ev.unionAll(ev), salt="dup1")
    name = f"fg_streamdup_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="fg_streamdup_ckpt_")
    stream = _events_stream(spark, base)
    deduped = (stream
               .withWatermark("ts", "1 hour")
               .dropDuplicatesWithinWatermark(["event_id"])
               .select("event_id", "ts", "user_id", "event_type",
                       F.floor(F.col("value") * 100).cast("long")
                       .alias("value_cents")))
    with _stream_state_partitions(spark):
        q = (deduped.writeStream.format("memory").queryName(name)
             .outputMode("append")
             .option("checkpointLocation", ckpt)
             .start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name).orderBy("event_id")


@query(
    "stream_engine_stream_join",
    survey_ref="§2.5 streaming: stream-stream interval join through the "
               "engine (watermarked two-sided state, attribution shape)",
    description="purchase<-view attribution computed by an actual "
                "watermarked stream-stream join: views joined to same-"
                "user purchases within the preceding 6 hours",
    oracle="""
    SELECT p.event_id AS purchase_id, v.event_id AS view_id,
           p.user_id, p.ts AS purchase_ts
    FROM events p JOIN events v
      ON p.user_id = v.user_id
     AND p.event_type = 'purchase' AND v.event_type = 'view'
     AND v.ts <= p.ts AND v.ts > p.ts - INTERVAL 6 HOUR
    ORDER BY purchase_id, view_id
    """,
)
def stream_engine_stream_join(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """The fifth engine-executed judged row, and the last major
    streaming API without one: a stream-STREAM join, where BOTH sides
    buffer watermarked state and the engine matches across micro-batch
    boundaries (a view in batch 1 joins a purchase in batch 4). The
    attribution shape production runs: every purchase joined to the
    same user's views in the preceding 6 hours.

    Why the drain is deterministic: inner-join matches emit as soon as
    both rows are present (no watermark withholding for inner joins),
    and state eviction cannot outrun replay — the engine keeps a view
    matchable until the watermark passes its ts + 6 h, while
    time-ascending replay holds the watermark only 1 h behind the
    newest purchase, so every view is still buffered when its last
    possible purchase arrives. The drained set is therefore exactly the
    batch join, which the oracle runs verbatim.

    At 100 TB this is the shape to reach for BEFORE a stream-static
    join against a mutable table: both sides shard on user_id (one
    co-partitioned shuffle per batch), and state is bounded by the
    6-hour horizon × arrival rate, not stream length."""
    import shutil
    import tempfile
    import uuid

    base = _time_clustered_events_copy(spark, sf_dir)

    purchases, views = _purchase_view_sides(spark, base)
    joined = purchases.join(
        views,
        F.expr("""p_user = v_user
                  AND view_ts <= purchase_ts
                  AND view_ts > purchase_ts - INTERVAL 6 HOURS"""))

    name = f"fg_streamjoin_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="fg_streamjoin_ckpt_")
    with _stream_state_partitions(spark):
        q = (joined.select("purchase_id", "view_id",
                           F.col("p_user").alias("user_id"), "purchase_ts")
             .writeStream.format("memory").queryName(name)
             .outputMode("append")
             .option("checkpointLocation", ckpt)
             .start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name).orderBy("purchase_id", "view_id")


@query(
    "stream_engine_restart_recovery",
    survey_ref="§2.5 streaming: CHECKPOINT RESTART RECOVERY through the "
               "engine (kill a watermarked append query mid-drain, restart "
               "from the checkpoint, exactly-once file sink)",
    description="Hourly event counts from an append-mode streaming query "
                "that is KILLED mid-drain and restarted from its "
                "checkpoint; the file sink's final contents still equal "
                "the batch oracle exactly once",
    oracle="""
    WITH agg AS (
      SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
             event_type,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
      FROM events
      GROUP BY 1, 2)
    SELECT window_start, event_type, n_events, value_cents
    FROM agg
    WHERE window_start + INTERVAL 1 HOUR
          <= (SELECT MAX(ts) - INTERVAL 1 HOUR FROM events)
    ORDER BY window_start, event_type
    """,
)
def stream_engine_restart_recovery(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """The sixth engine-executed judged row, and the one streaming
    property no earlier row certified: CRASH RECOVERY. The exact
    aggregation of stream_engine_append_watermark runs against a real
    FILE sink (parquet + its _spark_metadata transaction log — the sink
    production append pipelines use), the first query object is STOPPED
    as soon as it has committed a micro-batch (a mid-drain kill), and a
    SECOND query object restarts from the same checkpoint and drains to
    completion. The judged contract: the sink's final contents equal the
    batch oracle EXACTLY ONCE — the offset log replays any in-flight
    batch, the sink's metadata log deduplicates any double-written
    batch, and watermark state resumes from the checkpoint rather than
    restarting at zero (the reference's crash story,
    real_guac_async.py:43-57, done the engine's way).

    The kill point is deliberately timing-dependent; the RESULT is not —
    exactly-once across restart means every kill position yields the
    same final file-sink contents (that invariance IS the judged
    property). Batch readers of the output directory consult the sink's
    metadata log, so partially-committed files from the kill are
    invisible. At 100 TB this is just... how the pipeline runs: months
    of micro-batches survive executor loss, driver restarts and code
    redeploys through exactly this offset-log + idempotent-sink cycle."""
    import os
    import shutil
    import tempfile
    import time

    base = _time_clustered_events_copy(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="fg_streamrr_")
    outdir = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")

    def start_query():
        stream = _events_stream(spark, base)
        agg = (stream
               .withWatermark("ts", "1 hour")
               .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
               .agg(F.count(F.lit(1)).alias("n_events"),
                    F.sum(F.floor(F.col("value") * 100))
                    .alias("value_cents"))
               .select(F.col("w.start").alias("window_start"), "event_type",
                       "n_events", "value_cents"))
        return (agg.writeStream.format("parquet")
                .option("path", outdir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .start())

    with _stream_state_partitions(spark):
        q1 = start_query()
        try:
            # kill mid-drain: as soon as the first micro-batch has
            # committed (progress visible), stop the query cold
            deadline = time.time() + 120
            while time.time() < deadline:
                if q1.lastProgress is not None:
                    break
                time.sleep(0.05)
        finally:
            q1.stop()
        q2 = start_query()  # same checkpoint: resume, don't restart
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()

    # batch read consults the sink's metadata log (exactly-once view);
    # localCheckpoint so the temp dirs can be reclaimed before the
    # driver collects
    out = (spark.read.parquet(outdir)
           .orderBy("window_start", "event_type")
           .localCheckpoint(eager=True))
    shutil.rmtree(root, ignore_errors=True)
    return out


@query(
    "stream_engine_txnlog_sink",
    survey_ref="§2.5 streaming: foreachBatch → commit-log table with "
               "batch-id txn ids (K1's scale-grade exactly-once sink), "
               "one batch deliberately replayed",
    description="An event stream landed into the ACID commit-log table "
                "via foreachBatch with batch-id transaction ids; a "
                "deliberately replayed micro-batch converges through log "
                "idempotence and every event lands exactly once",
    oracle="""
    SELECT event_id, ts, user_id, event_type,
           CAST(FLOOR(value * 100) AS BIGINT) AS value_cents
    FROM events
    ORDER BY event_id
    """,
)
def stream_engine_txnlog_sink(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """The seventh engine-executed judged row: the Delta
    txnAppId/txnVersion pattern end-to-end through the real engine.
    foreachBatch lands every micro-batch into the transactional
    commit-log table (sources/txnlog.py) with the BATCH ID as the
    transaction id, and batch 1 is committed TWICE on purpose — the
    simulated sink-failure retry. The log's idempotent publish makes the
    replay a no-op (same txn_id → same version returned, no second data
    directory), so the read-back equals the batch oracle exactly once.
    This is K1's (append sink) scale-grade form: the reference appends
    trades to SQLite and trusts INSERT OR REPLACE; at 100 TB the sink
    must make micro-batch retries CONVERGE, not dedupe rows after the
    fact — which is exactly what txn_id-keyed commits give. State:
    none (this is a pass-through landing); the exactly-once guarantee
    lives in the (offset log, commit log) pair, the same place it lives
    in production."""
    import os
    import shutil
    import tempfile

    from fictional_guacamole_spark.sources.txnlog import (
        TransactionalParquetTable)

    base = _time_clustered_events_copy(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="fg_streamtxn_")
    table = TransactionalParquetTable(os.path.join(root, "t"))
    ckpt = os.path.join(root, "ckpt")

    def land(batch_df, batch_id):
        table.commit(batch_df, f"stream-batch-{batch_id}")
        if batch_id == 1:
            # simulated sink-failure retry: the SAME batch lands again
            # with the same txn id — must converge, not duplicate
            table.commit(batch_df, f"stream-batch-{batch_id}")

    with _stream_state_partitions(spark):
        q = (_events_stream(spark, base)
             .select("event_id", "ts", "user_id", "event_type",
                     F.floor(F.col("value") * 100).cast("long")
                     .alias("value_cents"))
             .writeStream.foreachBatch(land)
             .option("checkpointLocation", ckpt)
             .start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    out = (table.read(spark).orderBy("event_id")
           .localCheckpoint(eager=True))
    shutil.rmtree(root, ignore_errors=True)
    return out


@query(
    "stream_engine_static_enrich",
    survey_ref="§2.5 streaming: STREAM-STATIC broadcast join through the "
               "micro-batch engine (readStream ⋈ static dim → agg)",
    description="Event stream enriched per micro-batch with the static "
                "customer dimension (broadcast hash join, stateless), "
                "aggregated per market segment by the real engine",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           e.event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(e.value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    ORDER BY segment, e.event_type
    """,
)
def stream_engine_static_enrich(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The dimension-enrichment shape every production pipeline runs
    between source and sink: a STREAM-STATIC join (events stream ⋈
    customer dim on user_id = c_custkey). Unlike the stream-stream
    interval join (stream_engine_stream_join), this join is STATELESS —
    the static side is planned fresh into every micro-batch as a
    broadcast hash join, so no join state store exists, no watermark is
    needed for the join itself, and the per-trigger cost is one
    broadcast probe at scan speed. The downstream segment aggregation
    runs in complete mode so the drained result is trigger-boundary
    independent, which is what lets the batch SQL oracle certify a
    genuinely streaming execution (4+ micro-batches over the
    time-clustered file copy). At 100 TB: the dim broadcasts once per
    trigger (cacheable), the stream never shuffles before the join, and
    the only shuffle is the 256-key segment aggregation — identical to
    the batch plan for the same query, because it IS the same Catalyst
    plan replanned per micro-batch. Reference parity: the reference app
    enriches trades with static exchange/product metadata inline
    (SURVEY §2.2 P4); this is that operation under Spark's engine."""
    import shutil
    import tempfile
    import uuid

    base = _time_clustered_events_copy(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer") \
        .select("c_custkey", "c_mktsegment")
    name = f"fg_streamenr_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="fg_streamenr_ckpt_")
    stream = _events_stream(spark, base)
    enriched = stream.join(F.broadcast(dim),
                           stream.user_id == dim.c_custkey, "inner")
    agg = (enriched
           .groupBy(F.col("c_mktsegment").alias("segment"), "event_type")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.sum(F.floor(F.col("value") * 100)).alias("value_cents")))
    with _stream_state_partitions(spark):
        q = (agg.writeStream.format("memory").queryName(name)
             .outputMode("complete")
             .option("checkpointLocation", ckpt)
             .start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
    return (spark.table(name)
            .select("segment", "event_type", "n_events", "value_cents")
            .orderBy("segment", "event_type"))


@query(
    "stream_engine_outer_join",
    survey_ref="§2.5 streaming: stream-stream LEFT OUTER join through the "
               "engine (watermark-driven NULL emission for unmatched rows)",
    description="Purchases LEFT OUTER joined to same-user views in the "
                "preceding 6h by the real engine: matches emit on arrival, "
                "unmatched purchases emit null-padded when the watermark "
                "proves no view can still arrive",
    oracle="""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'),
    v AS (
      SELECT event_id AS view_id, user_id AS v_user, ts AS view_ts
      FROM events WHERE event_type = 'view'),
    wm AS (SELECT LEAST((SELECT MAX(ts) FROM events
                         WHERE event_type = 'purchase'),
                        (SELECT MAX(ts) FROM events
                         WHERE event_type = 'view'))
                  - INTERVAL 1 HOUR AS w),
    matched AS (
      SELECT p.purchase_id, v.view_id, p.user_id, p.purchase_ts
      FROM p JOIN v
        ON p.user_id = v.v_user
       AND v.view_ts <= p.purchase_ts
       AND v.view_ts > p.purchase_ts - INTERVAL 6 HOUR),
    unmatched AS (
      SELECT p.purchase_id, CAST(NULL AS BIGINT) AS view_id,
             p.user_id, p.purchase_ts
      FROM p, wm
      WHERE p.purchase_ts < wm.w
        AND NOT EXISTS (
          SELECT 1 FROM v
          WHERE v.v_user = p.user_id
            AND v.view_ts <= p.purchase_ts
            AND v.view_ts > p.purchase_ts - INTERVAL 6 HOUR))
    SELECT * FROM matched
    UNION ALL SELECT * FROM unmatched
    ORDER BY purchase_id, view_id NULLS FIRST
    """,
)
def stream_engine_outer_join(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """The seventh engine-executed judged row, and the hardest streaming
    join semantics: LEFT OUTER stream-stream. Inner matches emit the
    moment both rows are buffered (same as stream_engine_stream_join);
    the OUTER part is pure watermark protocol — an unmatched purchase
    may only emit its null-padded row once the engine can PROVE no
    matching view will ever arrive, i.e. when the global watermark
    passes purchase_ts (views satisfy view_ts <= purchase_ts, and the
    watermark bounds how late a view can be). The drained set is
    therefore deterministic: matched pairs exactly as the batch join,
    plus null rows for unmatched purchases with purchase_ts strictly
    below the final GLOBAL watermark — which is the MIN across the two
    sides' watermark nodes (each side's max event time - 1h; the
    watermark sits after the per-side filter, so the purchase side's
    clock stops at the last purchase, not the last event — the oracle's
    LEAST(...) replays exactly this); later unmatched purchases
    stay withheld by design — their absence IS the correctness property
    (emitting them would be premature: a view could still arrive). The
    oracle replays both halves including the cutoff, so a wrong eviction
    predicate, a premature null, or a dropped match breaks the hash.
    The final no-data micro-batch (noDataMicroBatches, default on)
    advances the watermark past the last purchase and flushes the
    trailing null rows before processAllAvailable returns.

    At 100 TB: identical state story to the inner join (both sides
    shard on user_id, state bounded by the 6h horizon x arrival rate);
    the outer semantics add only the per-key eviction timer the state
    store already maintains. This is the shape for attribution with
    EXPLICIT no-touch rows — the analytics form of 'every purchase
    appears exactly once, attributed or not'."""
    import shutil
    import tempfile
    import uuid

    base = _time_clustered_events_copy(spark, sf_dir)

    purchases, views = _purchase_view_sides(spark, base)
    joined = purchases.join(
        views,
        F.expr("""p_user = v_user
                  AND view_ts <= purchase_ts
                  AND view_ts > purchase_ts - INTERVAL 6 HOURS"""),
        "leftOuter")

    name = f"fg_streamoj_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="fg_streamoj_ckpt_")
    with _stream_state_partitions(spark):
        q = (joined.select("purchase_id", "view_id",
                           F.col("p_user").alias("user_id"), "purchase_ts")
             .writeStream.format("memory").queryName(name)
             .outputMode("append")
             .option("checkpointLocation", ckpt)
             .start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
    return (spark.table(name)
            .orderBy("purchase_id", F.asc_nulls_first("view_id")))


@query(
    "stream_engine_session_window",
    survey_ref="§2.5 streaming: SESSION windows through the engine "
               "(merging-window state, append mode, watermark-finalized "
               "sessions only)",
    description="Per-user 30-min-gap sessions computed by an actual "
                "append-mode streaming query: sessions MERGE across "
                "micro-batches and emit only when the watermark passes "
                "their end",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged),
    agg AS (
      SELECT user_id,
             MIN(ts) AS session_start,
             MAX(ts) + INTERVAL 30 MINUTE AS session_end,
             COUNT(*) AS n_events
      FROM sessions
      GROUP BY user_id, session_id)
    SELECT user_id, session_start, session_end, n_events
    FROM agg
    WHERE session_end <= (SELECT MAX(ts) - INTERVAL 1 HOUR FROM events)
    ORDER BY user_id, session_start
    """,
)
def stream_engine_session_window(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """SESSION windows under the engine — the one windowed aggregation
    whose state MERGES: a session's extent is data-driven (gap-based),
    so two separate window states fuse when a bridging event arrives in
    a later micro-batch, and the state store must support variable-span
    merge (Spark's session-window state format), not just keyed upsert.
    The batch sibling stream_session_window certifies the semantics;
    this row certifies the ENGINE execution: append mode emits each
    session exactly once, when the watermark (event-time max - 1h)
    passes its end (last event + 30 min gap), so the drained set is
    sessions with end <= final watermark — the oracle replays that
    cutoff over the gaps-and-islands batch formulation. Time-ascending
    file replay guarantees no late-drop and makes mid-stream session
    merges real (a user's events span trigger boundaries). At 100 TB:
    state is keyed by (user, session) with watermark eviction exactly
    like the tumbling form; the merge adds no extra shuffle — it is a
    state-store operation inside the same exchange."""
    import shutil
    import tempfile
    import uuid

    base = _time_clustered_events_copy(spark, sf_dir)
    name = f"fg_streamsw_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="fg_streamsw_ckpt_")
    stream = _events_stream(spark, base)
    agg = (stream
           .withWatermark("ts", "1 hour")
           .groupBy("user_id",
                    F.session_window("ts", "30 minutes").alias("w"))
           .agg(F.count(F.lit(1)).alias("n_events")))
    with _stream_state_partitions(spark):
        q = (agg.writeStream.format("memory").queryName(name)
             .outputMode("append")
             .option("checkpointLocation", ckpt)
             .start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
    return (spark.table(name)
            .select("user_id", F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"), "n_events")
            .orderBy("user_id", "session_start"))


@query(
    "stream_engine_full_outer_join",
    survey_ref="§2.5 streaming: stream-stream FULL OUTER join through "
               "the engine (null emission on BOTH sides, per-side "
               "eviction clocks)",
    description="Purchases FULL OUTER joined to same-user views in the "
                "preceding 6h by the real engine: matches emit on "
                "arrival; each side's unmatched rows emit null-padded "
                "when its own eviction clock proves no partner can "
                "still arrive",
    oracle="""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'),
    v AS (
      SELECT event_id AS view_id, user_id AS v_user, ts AS view_ts
      FROM events WHERE event_type = 'view'),
    wm AS (SELECT LEAST((SELECT MAX(ts) FROM events
                         WHERE event_type = 'purchase'),
                        (SELECT MAX(ts) FROM events
                         WHERE event_type = 'view'))
                  - INTERVAL 1 HOUR AS w),
    matched AS (
      SELECT p.purchase_id, v.view_id, p.user_id, p.purchase_ts, v.view_ts
      FROM p JOIN v
        ON p.user_id = v.v_user
       AND v.view_ts <= p.purchase_ts
       AND v.view_ts > p.purchase_ts - INTERVAL 6 HOUR),
    un_p AS (
      SELECT p.purchase_id, CAST(NULL AS BIGINT) AS view_id,
             p.user_id, p.purchase_ts, CAST(NULL AS TIMESTAMP) AS view_ts
      FROM p, wm
      WHERE p.purchase_ts < wm.w
        AND NOT EXISTS (
          SELECT 1 FROM v
          WHERE v.v_user = p.user_id
            AND v.view_ts <= p.purchase_ts
            AND v.view_ts > p.purchase_ts - INTERVAL 6 HOUR)),
    un_v AS (
      SELECT CAST(NULL AS BIGINT) AS purchase_id, v.view_id,
             v.v_user AS user_id, CAST(NULL AS TIMESTAMP) AS purchase_ts,
             v.view_ts
      FROM v, wm
      WHERE v.view_ts + INTERVAL 6 HOUR <= wm.w
        AND NOT EXISTS (
          SELECT 1 FROM p
          WHERE p.user_id = v.v_user
            AND v.view_ts <= p.purchase_ts
            AND v.view_ts > p.purchase_ts - INTERVAL 6 HOUR))
    SELECT * FROM matched
    UNION ALL SELECT * FROM un_p
    UNION ALL SELECT * FROM un_v
    ORDER BY purchase_id NULLS FIRST, view_id NULLS FIRST
    """,
)
def stream_engine_full_outer_join(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Completes the streaming join matrix (INNER:
    stream_engine_stream_join; LEFT OUTER: stream_engine_outer_join):
    FULL OUTER, where BOTH sides carry null-emission obligations with
    DIFFERENT eviction clocks derived from the same interval condition.
    A purchase is provably unmatched once the watermark passes
    purchase_ts (views satisfy view_ts <= purchase_ts); a view is
    provably unmatched only once the watermark passes view_ts + 6h
    (purchases satisfy purchase_ts < view_ts + 6h) — the engine derives
    both predicates from the join condition, and the oracle replays
    them: unmatched purchases cut at purchase_ts < W, unmatched views
    at view_ts + 6h <= W, W = the min-across-sides global watermark
    (per-side filtered clocks, the stream_engine_outer_join finding).
    The asymmetry IS the judged property — swap the two cutoffs and the
    hash breaks. At 100 TB: same user_id-sharded state as the inner
    join; the extra cost of FULL OUTER is only the two per-side
    eviction timers the state store already maintains."""
    import shutil
    import tempfile
    import uuid

    base = _time_clustered_events_copy(spark, sf_dir)

    purchases, views = _purchase_view_sides(spark, base)
    joined = purchases.join(
        views,
        F.expr("""p_user = v_user
                  AND view_ts <= purchase_ts
                  AND view_ts > purchase_ts - INTERVAL 6 HOURS"""),
        "fullOuter")

    name = f"fg_streamfoj_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="fg_streamfoj_ckpt_")
    with _stream_state_partitions(spark):
        q = (joined.select("purchase_id", "view_id",
                           F.coalesce(F.col("p_user"), F.col("v_user"))
                           .alias("user_id"),
                           "purchase_ts", "view_ts")
             .writeStream.format("memory").queryName(name)
             .outputMode("append")
             .option("checkpointLocation", ckpt)
             .start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
    return (spark.table(name)
            .orderBy(F.asc_nulls_first("purchase_id"),
                     F.asc_nulls_first("view_id")))


@query(
    "stream_engine_chained_agg",
    survey_ref="§2.5 streaming: CHAINED stateful aggregations through the "
               "micro-batch engine (windowed agg → windowed re-agg, one "
               "append-mode query, two state stores)",
    description="15-min event buckets rolled up to hourly stats by a "
                "second windowed aggregation INSIDE the same streaming "
                "query (multiple-stateful-operator support)",
    oracle="""
    WITH q AS (
      SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS q_start, event_type,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    hr AS (
      SELECT time_bucket(INTERVAL 1 HOUR, q_start) AS window_start,
             event_type,
             COUNT(*) AS n_buckets,
             CAST(SUM(n) AS BIGINT) AS n_events,
             CAST(MAX(n) AS BIGINT) AS max_bucket
      FROM q GROUP BY 1, 2)
    SELECT window_start, event_type, n_buckets, n_events, max_bucket
    FROM hr
    WHERE window_start + INTERVAL 1 HOUR
          <= (SELECT MAX(ts) - INTERVAL 1 HOUR FROM events)
    ORDER BY window_start, event_type
    """,
)
def stream_engine_chained_agg(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """CHAINED stateful aggregation — two windowed aggs in ONE streaming
    query (Spark 3.4+ multiple-stateful-operator support): 15-minute
    per-type counts feed an hourly re-aggregation via ``window_time()``
    (the first agg's window struct becomes the second's event-time
    column), both in append mode over one watermark. This is the
    pre-aggregation cascade production pipelines want (fine-grain state
    near the data, coarse rollup downstream) WITHOUT landing the
    intermediate in a sink and starting a second query — one checkpoint,
    two state stores, exactly-once end to end.

    Emission semantics the oracle replays: an hourly window finalizes
    when the watermark (max event time − 1h, propagated through the
    first operator) passes its end; every 15-min bucket inside a
    finalized hour is itself finalized (bucket end ≤ hour end ≤
    watermark), so the rollup is complete exactly when it emits — the
    batch replay is the double GROUP BY with the sibling rows' cutoff.

    100 TB shape: both aggs partial-aggregate map-side and shuffle on
    (window, type); state is two keyed stores bounded by watermark
    eviction; the second store holds one row per (hour, type) — a
    96× reduction of the first's key space."""
    import shutil
    import tempfile
    import uuid

    base = _time_clustered_events_copy(spark, sf_dir)
    name = f"fg_chain_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="fg_chain_ckpt_")
    stream = _events_stream(spark, base)
    q15 = (stream
           .withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
           .agg(F.count(F.lit(1)).alias("n")))
    hourly = (q15
              .groupBy(F.window(F.window_time("w"), "1 hour").alias("hw"),
                       "event_type")
              .agg(F.count(F.lit(1)).alias("n_buckets"),
                   F.sum("n").alias("n_events"),
                   F.max("n").alias("max_bucket")))
    with _stream_state_partitions(spark):
        q = (hourly.writeStream.format("memory").queryName(name)
             .outputMode("append")
             .option("checkpointLocation", ckpt)
             .start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
    return (spark.table(name)
            .select(F.col("hw.start").alias("window_start"), "event_type",
                    "n_buckets", "n_events", "max_bucket")
            .orderBy("window_start", "event_type"))


@query(
    "stream_engine_join_then_agg",
    survey_ref="§2.5 streaming: stream-stream join FEEDING a windowed "
               "aggregation inside one engine query (the second "
               "multiple-stateful-operator combination: join state + "
               "window state under one checkpoint)",
    description="Hourly attribution rollup computed downstream of a "
                "watermarked stream-stream interval join, one append-mode "
                "streaming query",
    oracle="""
    WITH j AS (
      SELECT p.ts AS pts, v.event_id AS vid
      FROM events p JOIN events v
        ON p.user_id = v.user_id
       AND p.event_type = 'purchase' AND v.event_type = 'view'
       AND v.ts <= p.ts AND v.ts > p.ts - INTERVAL 6 HOUR),
    agg AS (
      SELECT time_bucket(INTERVAL 1 HOUR, pts) AS window_start,
             COUNT(*) AS n_attributed,
             MIN(vid) AS min_view, MAX(vid) AS max_view
      FROM j GROUP BY 1)
    SELECT window_start, n_attributed, min_view, max_view
    FROM agg
    WHERE window_start + INTERVAL 1 HOUR
          <= (SELECT MAX(ts) - INTERVAL 7 HOUR FROM events)
    ORDER BY window_start
    """,
)
def stream_engine_join_then_agg(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Stream-stream join CHAINED into a windowed aggregation — the
    attribution rollup (purchases joined to the same user's preceding-6h
    views, counted per purchase hour) as ONE streaming query. Together
    with stream_engine_chained_agg (agg→agg) this exercises the second
    multiple-stateful-operator composition: two-sided join state AND
    windowed aggregation state, one checkpoint, exactly-once end to end.

    The judged emission cutoff encodes a real engine fact the agg→agg
    row cannot show: a stream-stream join DELAYS the downstream
    watermark by its state horizon. The view side must stay matchable
    for 6 hours past its event time, so the join's output watermark runs
    (watermark delay + join horizon) = 7 hours behind max event time,
    and the hourly windows the aggregation may finalize are exactly
    those ending ≤ max(ts) − 7 h — measured on the drain (162 emitted
    windows vs 164 for a 1 h cutoff) and replayed verbatim by the batch
    oracle.

    At 100 TB: both stateful operators shard on their keys (user_id,
    then window); state is bounded by horizon × rate for the join and
    by watermark eviction for the windows; the rollup's key space is
    |hours|, a ~10⁴× reduction of the pair stream."""
    import shutil
    import tempfile
    import uuid

    base = _time_clustered_events_copy(spark, sf_dir)
    purchases, views = _purchase_view_sides(spark, base)
    joined = purchases.join(
        views,
        F.expr("""p_user = v_user
                  AND view_ts <= purchase_ts
                  AND view_ts > purchase_ts - INTERVAL 6 HOURS"""))
    agg = (joined
           .groupBy(F.window("purchase_ts", "1 hour").alias("w"))
           .agg(F.count(F.lit(1)).alias("n_attributed"),
                F.min("view_id").alias("min_view"),
                F.max("view_id").alias("max_view")))
    name = f"fg_joinagg_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="fg_joinagg_ckpt_")
    with _stream_state_partitions(spark):
        q = (agg.writeStream.format("memory").queryName(name)
             .outputMode("append")
             .option("checkpointLocation", ckpt)
             .start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
    return (spark.table(name)
            .select(F.col("w.start").alias("window_start"),
                    "n_attributed", "min_view", "max_view")
            .orderBy("window_start"))


@query(
    "stream_engine_dedup_then_agg",
    survey_ref="§2.5 streaming: watermarked dedup FEEDING a windowed "
               "aggregation inside one engine query (third "
               "multiple-stateful-operator combination: dedup state + "
               "window state under one checkpoint)",
    description="Exactly-once hourly stats computed from a DOUBLED event "
                "stream: dropDuplicatesWithinWatermark chained into a "
                "windowed aggregation, one append-mode streaming query",
    oracle="""
    WITH agg AS (
      SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
      FROM events GROUP BY 1, 2)
    SELECT window_start, event_type, n_events, value_cents
    FROM agg
    WHERE window_start + INTERVAL 1 HOUR
          <= (SELECT MAX(ts) - INTERVAL 1 HOUR FROM events)
    ORDER BY window_start, event_type
    """,
)
def stream_engine_dedup_then_agg(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """The third multiple-stateful-operator composition, and the one
    production metric pipelines need most: EXACTLY-ONCE aggregates over
    an AT-LEAST-ONCE feed, in one query. The source replay holds every
    event TWICE (the dedup row's doubled time-clustered copy);
    ``dropDuplicatesWithinWatermark`` absorbs the duplicates, and its
    output flows directly into a watermarked hourly aggregation — dedup
    key state and window state live under the same checkpoint, so a
    retry can neither double-count (dedup) nor re-emit (append mode).
    Without operator chaining this takes two queries and an intermediate
    topic; the duplicates-removed aggregate then needs its own
    idempotent sink.

    Emission semantics: unlike the join (which delays the downstream
    watermark by its 6 h horizon — stream_engine_join_then_agg), dedup
    passes event time through unshifted, so hourly windows finalize at
    the plain max(ts) − 1 h cutoff — measured on the drain (3 375
    windows, value-identical to the batch oracle over the UN-doubled
    fixture) and encoded in the oracle.

    At 100 TB: dedup state is one entry per key within the watermark
    horizon, window state one row per (hour, type); both evict by
    watermark — state is bounded by event-time span, not stream
    length."""
    import shutil
    import tempfile
    import uuid

    base = _time_clustered_events_copy(
        spark, sf_dir, transform=lambda ev: ev.unionAll(ev), salt="dup1")
    name = f"fg_dedupagg_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="fg_dedupagg_ckpt_")
    stream = _events_stream(spark, base)
    agg = (stream
           .withWatermark("ts", "1 hour")
           .dropDuplicatesWithinWatermark(["event_id"])
           .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.sum(F.floor(F.col("value") * 100)).alias("value_cents")))
    with _stream_state_partitions(spark):
        q = (agg.writeStream.format("memory").queryName(name)
             .outputMode("append")
             .option("checkpointLocation", ckpt)
             .start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
    return (spark.table(name)
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "value_cents")
            .orderBy("window_start", "event_type"))


# epoch+id fixture bound (r13 SCALE addendum, generalized r14): replica-
# scaled event_ids reach ~1e10 at sf10 and `epoch + id` seconds passes
# pandas' year-2262 ns ceiling inside the Arrow kernel boundary. The polo
# row's plain modulus cannot be reused here — these fixtures run under a
# dedupe WATERMARK, which needs server_ts MONOTONE in seq (a wrap would
# make the watermark drop on-time frames as late). Instead: an exact
# NO-OP below _TS_KNEE (sf1 max id ≈ 7.6e8), and 16:1 monotone
# compression above it — sf10's max id ≈ 9.9e9 maps to epoch + ~6.2e9 s,
# inside the ceiling with room to ~sf30. Ties among ≤16 consecutive ids
# in the compressed region are harmless: dedupe keys on (product_id,
# seq) and the kernel orders by seq.
_TS_KNEE = 6_000_000_000


def _bounded_epoch_secs(id_col):
    """Monotone seconds offset for epoch+id fixture timestamps: identity
    below _TS_KNEE, 16:1 compressed above (exact long arithmetic)."""
    return F.when(id_col < _TS_KNEE, id_col).otherwise(
        F.lit(_TS_KNEE).cast("long")
        + F.floor((id_col - _TS_KNEE) / 16).cast("long")).cast("long")


def _match_frames_with_dups(ev: DataFrame) -> DataFrame:
    """The shared book-kernel frame fixture: purchase events as 'match'
    frames (seq = trade_id = event_id, server_ts monotone in seq), with
    a deterministic ~14% of frames delivered TWICE (the at-least-once
    transport a reconnecting websocket produces — run_pipeline's dedupe
    stage must drop the re-deliveries or the value hash breaks)."""
    from fictional_guacamole_spark.streaming.frames import (
        ensure_frame_schema)

    frames = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("seq"),
        # monotone-in-seq event time: 2024-01-01T00:00:00Z + seq s
        # (bounded above the sf10 knee — see _bounded_epoch_secs)
        F.timestamp_seconds(F.lit(1704067200).cast("long")
                            + _bounded_epoch_secs(F.col("event_id")))
        .alias("server_ts"),
        F.col("user_id").cast("string").alias("product_id"),
        F.lit("match").alias("msg_type"),
        F.lit(None).cast("array<array<string>>").alias("bids"),
        F.lit(None).cast("array<array<string>>").alias("asks"),
        F.lit(None).cast("array<array<string>>").alias("changes"),
        F.col("event_id").alias("trade_id"),
        F.lit(None).cast("long").alias("sequence"),
        F.lit(None).cast("string").alias("price"),
        F.lit(None).cast("string").alias("volume"),
        F.lit(None).cast("string").alias("side"),
        F.lit(None).cast("timestamp").alias("exchange_ts"),
    )
    frames = ensure_frame_schema(frames)
    # at-least-once transport: a deterministic subset arrives twice
    return frames.unionByName(frames.filter(F.col("seq") % 7 == 3))


@query(
    "stream_engine_book_kernel",
    survey_ref="T1-T5 + §2.5 streaming: the BOOK KERNEL executed through "
               "the REAL engine — the full production pipeline "
               "(dropDuplicatesWithinWatermark → applyInPandasWithState → "
               "foreachBatch idempotent sinks), killed mid-drain and "
               "restarted from its checkpoint",
    description="The order-book kernel run as an actual Structured "
                "Streaming query over replayed match frames (with "
                "injected duplicate deliveries), crash-restarted "
                "mid-drain; the drained trade + gap sinks equal the "
                "batch kernel's oracle exactly once",
    oracle="""
    WITH p AS (
      SELECT user_id, event_id,
             LAG(event_id) OVER (PARTITION BY user_id
                                 ORDER BY event_id) AS prev_id
      FROM events WHERE event_type = 'purchase')
    SELECT 'trade' AS out_type, CAST(user_id AS VARCHAR) AS product_id,
           event_id AS trade_id,
           CAST(NULL AS BIGINT) AS gap_first_id,
           CAST(NULL AS BIGINT) AS gap_last_id
    FROM p
    UNION ALL
    SELECT 'gap', CAST(user_id AS VARCHAR), CAST(NULL AS BIGINT),
           prev_id + 1, event_id - 1
    FROM p WHERE prev_id IS NOT NULL AND event_id - prev_id > 1
    ORDER BY product_id, out_type, trade_id NULLS FIRST,
             gap_first_id NULLS FIRST
    """,
)
def stream_engine_book_kernel(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """The flagship custom kernel, finally judged THROUGH the engine
    (r11 verdict task #1). Every piece of the production pipeline
    (streaming/pipeline.py::run_pipeline — the reference's whole app,
    real_guac.py:37-129, as one streaming query) is on the judged path:

    - the frame fixture replays the same synthesized match frames as the
      batch row ``t2_book_kernel_gaps`` (purchase events → 'match'
      frames keyed by user-as-product), range-clustered on ``seq`` into
      4 files so a maxFilesPerTrigger=1 drain delivers every product's
      frames in arrival (seq) order across ≥4 micro-batches — the same
      per-connection ordering contract the websocket source gives;
    - ``server_ts`` is synthesized monotone in ``seq`` (epoch
      2024-01-01 + seq seconds), so event time and arrival order agree
      and the dedupe watermark can never mistake an on-time frame for
      late data;
    - a deterministic ~14% of frames (seq % 7 == 3) is delivered TWICE
      — the at-least-once transport the reference's reconnecting
      websocket produces. ``dedupe_horizon`` drops the re-deliveries
      via dropDuplicatesWithinWatermark BEFORE the kernel; without the
      dedupe stage each duplicate would re-emit its trade row and the
      value hash would break, so the stage is load-bearing, not
      decorative;
    - the kernel itself is the stateful applyInPandasWithState fold
      (operators/book.py), keyed by product, state round-tripped
      through STATE_SCHEMA across micro-batches;
    - sinks are the production foreachBatch writer: _batch-partitioned
      parquet with dynamic partition overwrite (exactly-once under
      replay);
    - the first query object is KILLED as soon as one micro-batch has
      committed, and a second resumes from the same checkpoint
      (stream_engine_restart_recovery's crash story, now on the custom
      kernel): dedupe state, book state AND sink idempotence all
      survive the restart, or the hash breaks.

    The judged frame is the batch sibling's exact shape, so the same
    pure-SQL oracle certifies trade passthrough + T5 gap detection; the
    book-state outputs (not SQL-expressible) stay pinned by the golden/
    property suites and the books sink is asserted drained in tests.
    At 100 TB this row IS the deployment: months of micro-batches
    surviving restarts through the offset log + idempotent sinks."""
    import os
    import shutil
    import tempfile
    import time
    import uuid

    from fictional_guacamole_spark.streaming.pipeline import run_pipeline

    base = _time_clustered_events_copy(
        spark, sf_dir, transform=_match_frames_with_dups,
        salt="bookframes2", cluster_col="seq")
    schema = spark.read.parquet(base).schema

    root = tempfile.mkdtemp(prefix="fg_bookstream_")
    sink = os.path.join(root, "sink")
    ckpt = os.path.join(root, "ckpt")
    qname = f"fg_book_kernel_{uuid.uuid4().hex[:12]}"

    def start_query():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1").parquet(base))
        return run_pipeline(stream, sink, ckpt,
                            dedupe_horizon="10 minutes",
                            query_name=qname)

    with _stream_state_partitions(spark):
        q1 = start_query()
        try:
            # kill mid-drain: stop cold as soon as a batch has committed
            deadline = time.time() + 120
            while time.time() < deadline:
                if q1.lastProgress is not None:
                    break
                time.sleep(0.05)
        finally:
            q1.stop()
        q2 = start_query()  # same checkpoint: resume, don't restart
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()

    null_id = F.lit(None).cast("long")
    trades = (spark.read.parquet(os.path.join(sink, "trades"))
              .select(F.lit("trade").alias("out_type"),
                      F.col("product_id").cast("string").alias("product_id"),
                      F.col("trade_id").cast("long").alias("trade_id"),
                      null_id.alias("gap_first_id"),
                      null_id.alias("gap_last_id")))
    gaps = (spark.read.parquet(os.path.join(sink, "gaps"))
            .select(F.lit("gap").alias("out_type"),
                    F.col("product_id").cast("string").alias("product_id"),
                    null_id.alias("trade_id"),
                    F.col("gap_first_id").cast("long").alias("gap_first_id"),
                    F.col("gap_last_id").cast("long").alias("gap_last_id")))
    out = (trades.unionByName(gaps)
           .orderBy("product_id", "out_type",
                    F.asc_nulls_first("trade_id"),
                    F.asc_nulls_first("gap_first_id"))
           .localCheckpoint(eager=True))
    shutil.rmtree(root, ignore_errors=True)
    return out


@query(
    "stream_engine_gap_alarm_timer",
    survey_ref="T5/T6 + §2.5 streaming: EVENT-TIME TIMERS via Spark 4's "
               "arbitrary-state API (transformWithStateInPandas) — "
               "gap-unrepaired-after-T alarms, crash-restarted mid-drain",
    description="Per-product trade-id gaps alarm if no repair arrives "
                "within 600s of detection: ValueState + MapState + "
                "registered event-time timers through the real engine, "
                "killed mid-drain and resumed from its checkpoint",
    oracle="""
    WITH p AS (
      SELECT user_id, event_id,
             LAG(event_id) OVER (PARTITION BY user_id
                                 ORDER BY event_id) AS prev_id
      FROM events WHERE event_type = 'purchase'),
    g AS (
      SELECT user_id, prev_id + 1 AS gap_first_id,
             event_id - 1 AS gap_last_id, event_id AS det_s
      FROM p WHERE prev_id IS NOT NULL AND event_id - prev_id > 1),
    mx AS (
      SELECT GREATEST(
        (SELECT MAX(event_id) FROM p),
        COALESCE((SELECT MAX(det_s + 120) FROM g
                  WHERE gap_first_id % 3 = 0), 0)) AS max_s)
    SELECT CAST(user_id AS VARCHAR) AS product_id, gap_first_id,
           gap_last_id,
           TIMESTAMP '2024-01-01 00:00:00'
             + (det_s + 600) * INTERVAL 1 SECOND AS alarm_ts
    FROM g, mx
    -- integer-SECOND timestamps by construction (epoch + id seconds), so
    -- the engine's ms timer clock (ceil deadlines, truncate watermark) is
    -- lossless here at every SF and plain <= IS the engine's gate (the
    -- session rows, whose fixture has sub-ms ts, encode ceil/floor
    -- explicitly — r12 advisor)
    WHERE gap_first_id % 3 <> 0 AND det_s + 600 <= mx.max_s
    ORDER BY product_id, gap_first_id
    """,
)
def stream_engine_gap_alarm_timer(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The repo's first ``transformWithState`` row, with a real TIMER
    (r11 verdict task #2). The reference detects a trade-id gap and
    fires a backfill request (real_guac_async.py:123-132); the
    time-bounded follow-up a production consumer needs — "alarm if the
    gap is still unrepaired T after detection" — requires an EVENT-TIME
    timer, which Spark 4's arbitrary-state API has and the older
    applyInPandasWithState (the book kernel's API) does not.

    Fixture: purchase events become per-product trades (ts monotone in
    trade_id: epoch 2024-01-01 + id seconds); every T5 gap whose first
    missing id is ≡0 (mod 3) gets a ``repair`` row 120 s after
    detection — inside the 600 s alarm horizon, so exactly the ≢0
    (mod 3) gaps may alarm. The drained alarm set is deterministic:
    a timer fires iff its deadline is ≤ the final watermark (global max
    event time, 0 s delay), so the oracle is closed-form SQL. Repairs
    always precede their gap's deadline in event time, and the engine
    processes a batch's input rows before its expired timers — a repair
    can never race its own alarm.

    The run is killed as soon as one micro-batch commits and resumed
    from the checkpoint: ValueState, MapState, REGISTERED TIMERS and
    the file sink's exactly-once log all survive the restart or the
    hash breaks. State: one long + outstanding-gap map per product in
    the RocksDB store; alarms are bounded by gap volume, not stream
    volume."""
    import os
    import shutil
    import tempfile
    import time
    import uuid

    from fictional_guacamole_spark.operators.gap_alarm import (
        apply_gap_alarm)

    def to_alarm_frames(ev: DataFrame) -> DataFrame:
        epoch = F.lit(1704067200).cast("long")
        p = (ev.filter(F.col("event_type") == "purchase")
             .select(F.col("user_id").cast("string").alias("product_id"),
                     F.col("event_id").alias("trade_id"))
             .withColumn("prev_id", F.lag("trade_id").over(
                 W.partitionBy("product_id").orderBy("trade_id"))))
        trades = p.select(
            "product_id", F.lit("trade").alias("kind"), "trade_id",
            F.lit(None).cast("long").alias("gap_first_id"),
            F.timestamp_seconds(epoch + F.col("trade_id"))
             .alias("server_ts"))
        repairs = (p.filter(F.col("prev_id").isNotNull()
                            & (F.col("trade_id") - F.col("prev_id") > 1)
                            & ((F.col("prev_id") + 1) % 3 == 0))
                   .select("product_id", F.lit("repair").alias("kind"),
                           F.lit(None).cast("long").alias("trade_id"),
                           (F.col("prev_id") + 1).alias("gap_first_id"),
                           F.timestamp_seconds(
                               epoch + F.col("trade_id") + 120)
                           .alias("server_ts")))
        return trades.unionByName(repairs)

    base = _time_clustered_events_copy(
        spark, sf_dir, transform=to_alarm_frames, salt="gapalarm1",
        cluster_col="server_ts")
    schema = spark.read.parquet(base).schema

    root = tempfile.mkdtemp(prefix="fg_gapalarm_")
    outdir = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    qname = f"fg_gap_alarm_{uuid.uuid4().hex[:12]}"

    def start_query():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1").parquet(base)
                  .withWatermark("server_ts", "0 seconds"))
        alarms = apply_gap_alarm(stream, alarm_after_s=600)
        return (alarms.writeStream.format("parquet")
                .option("path", outdir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .queryName(qname)
                .start())

    with _stream_state_partitions(spark), _rocksdb_state_store(spark):
        q1 = start_query()
        try:
            deadline = time.time() + 120
            while time.time() < deadline:
                if q1.lastProgress is not None:
                    break
                time.sleep(0.05)
        finally:
            q1.stop()
        q2 = start_query()  # same checkpoint: resume, don't restart
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()

    out = (spark.read.parquet(outdir)
           .orderBy("product_id", "gap_first_id")
           .localCheckpoint(eager=True))
    shutil.rmtree(root, ignore_errors=True)
    return out


@query(
    "stream_engine_tws_session_timeout",
    survey_ref="§2.5 streaming: SESSIONIZATION on the arbitrary-state API "
               "— ListState + event-time timers + deleteTimer; sessions "
               "close by successor event OR by the clock, exactly once",
    description="Per-user 6h-inactivity sessions via "
                "transformWithStateInPandas: inline closure when a later "
                "event breaks the gap, timer closure at the watermark "
                "otherwise; drained sessions equal the gaps-and-islands "
                "oracle",
    oracle="""
    WITH m AS (
      SELECT user_id, ts, event_id,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       > INTERVAL 6 HOUR THEN 1 ELSE 0 END AS brk
      FROM events),
    s AS (
      SELECT *, SUM(brk) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM m),
    agg AS (
      SELECT user_id, sid, MIN(ts) AS session_start,
             MAX(ts) AS session_end, COUNT(*) AS n_events,
             CAST(SUM(cents) AS BIGINT) AS value_cents,
             CAST(SUM(event_id) AS BIGINT) AS id_sum
      FROM s GROUP BY 1, 2)
    SELECT user_id, session_start, session_end, n_events, value_cents,
           id_sum
    FROM agg
    -- the engine's EXACT timer gate, in integer arithmetic (r12 advisor):
    -- deadlines ceil to the ms timer clock, the watermark truncates to ms,
    -- and a timer fires iff ceil_ms(deadline) <= floor_ms(max event time).
    -- A µs-exact <= would disagree whenever a deadline lands inside the
    -- final watermark's partial millisecond (data-dependent at other SFs).
    WHERE (epoch_us(session_end + INTERVAL 6 HOUR) + 999) // 1000
          <= (SELECT epoch_us(MAX(ts)) // 1000 FROM events)
    ORDER BY user_id, session_start
    """,
)
def stream_engine_tws_session_timeout(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """The second arbitrary-state row (operators/session_state.py),
    exercising the API surfaces gap_alarm does not: ``ListState``
    (the open session's event ids, drained at closure), ``deleteTimer``
    (cancelling the superseded deadline on every session extension),
    and BOTH closure paths of the canonical sessionization pattern —
    inline (a successor event past the gap closes the session from
    handleInputRows) and timer-driven (the watermark runs out the clock
    on sessions with no successor). The drained result is deterministic
    — a session emits iff its end + gap ≤ the final watermark — so the
    classic gaps-and-islands SQL judges the stream; the trailing
    still-open session per user is correctly withheld by both engines.
    Unlike the session_window sibling (engine-native session windows),
    this row certifies the USER-state implementation of the same
    semantics, the shape real pipelines need the moment session closure
    has side conditions the built-in cannot express."""
    import os
    import shutil
    import tempfile
    import time
    import uuid

    from fictional_guacamole_spark.operators.session_state import (
        apply_session_timeout)

    def to_session_frames(ev: DataFrame) -> DataFrame:
        return ev.select(
            "user_id", "event_id", F.col("ts").alias("server_ts"),
            F.floor(F.col("value") * 100).cast("long")
            .alias("value_cents"))

    base = _time_clustered_events_copy(
        spark, sf_dir, transform=to_session_frames, salt="twssess1",
        cluster_col="server_ts")
    schema = spark.read.parquet(base).schema

    root = tempfile.mkdtemp(prefix="fg_twssess_")
    outdir = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    qname = f"fg_tws_session_{uuid.uuid4().hex[:12]}"

    def start_query():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1").parquet(base)
                  .withWatermark("server_ts", "0 seconds"))
        sessions = apply_session_timeout(stream, gap_s=6 * 3600)
        return (sessions.writeStream.format("parquet")
                .option("path", outdir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .queryName(qname)
                .start())

    with _stream_state_partitions(spark), _rocksdb_state_store(spark):
        q1 = start_query()
        try:
            deadline = time.time() + 120
            while time.time() < deadline:
                if q1.lastProgress is not None:
                    break
                time.sleep(0.05)
        finally:
            q1.stop()
        q2 = start_query()  # same checkpoint: resume, don't restart
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()

    out = (spark.read.parquet(outdir)
           .orderBy("user_id", "session_start")
           .localCheckpoint(eager=True))
    shutil.rmtree(root, ignore_errors=True)
    return out


@query(
    "stream_engine_tws_initial_state",
    survey_ref="§2.5 streaming: BATCH→STREAM STATE MIGRATION via "
               "transformWithState handleInitialState — the stream "
               "starts mid-history from a batch-computed snapshot and "
               "the drained result equals the full-history oracle",
    description="Sessionization where the first half of history is "
                "processed as a BATCH (closed sessions emitted, each "
                "user's open session handed to the engine as initial "
                "state) and only the second half is streamed; the union "
                "equals the full gaps-and-islands oracle exactly",
    oracle="""
    WITH m AS (
      SELECT user_id, ts, event_id,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       > INTERVAL 6 HOUR THEN 1 ELSE 0 END AS brk
      FROM events),
    s AS (
      SELECT *, SUM(brk) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM m),
    agg AS (
      SELECT user_id, sid, MIN(ts) AS session_start,
             MAX(ts) AS session_end, COUNT(*) AS n_events,
             CAST(SUM(cents) AS BIGINT) AS value_cents,
             CAST(SUM(event_id) AS BIGINT) AS id_sum
      FROM s GROUP BY 1, 2)
    SELECT user_id, session_start, session_end, n_events, value_cents,
           id_sum
    FROM agg
    -- the engine's EXACT timer gate, in integer arithmetic (r12 advisor):
    -- deadlines ceil to the ms timer clock, the watermark truncates to ms,
    -- and a timer fires iff ceil_ms(deadline) <= floor_ms(max event time).
    -- A µs-exact <= would disagree whenever a deadline lands inside the
    -- final watermark's partial millisecond (data-dependent at other SFs).
    WHERE (epoch_us(session_end + INTERVAL 6 HOUR) + 999) // 1000
          <= (SELECT epoch_us(MAX(ts)) // 1000 FROM events)
    ORDER BY user_id, session_start
    """,
)
def stream_engine_tws_initial_state(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """The arbitrary-state API's third surface (after timers and the
    state primitives): ``handleInitialState``. The production problem
    it solves at 100 TB: bootstrapping a NEW streaming job over a
    corpus with months of history without replaying the history —
    batch-compute the state snapshot once, hand it to the engine, and
    stream only from the cut point. Judged end to end: history splits
    at its midpoint; the head is processed as ordinary batch SQL
    (every user's non-final sessions close there and are emitted
    directly; the final, still-open session per user becomes one
    initial-state row: start/last/cents plus the ListState id list);
    ONLY the tail files are streamed, with the snapshot passed as
    ``initialState``. Sessions spanning the cut extend seamlessly from
    the seeded state; seeded sessions with no tail successor close by
    the timer ``handleInitialState`` registered (a key can close
    without ever receiving a streamed row). The drained union equals
    the FULL-history gaps-and-islands oracle bit-for-bit — the same
    oracle as the cold-start sibling row, which is the point: state
    migration must change nothing."""
    import os
    import shutil
    import tempfile
    import time
    import uuid

    from fictional_guacamole_spark.operators.session_state import (
        apply_session_timeout)

    GAP_S = 6 * 3600

    def to_session_frames(ev: DataFrame) -> DataFrame:
        return ev.select(
            "user_id", "event_id", F.col("ts").alias("server_ts"),
            F.floor(F.col("value") * 100).cast("long")
            .alias("value_cents"))

    # deterministic cut: midpoint of the corpus's event-time span
    ev_all = to_session_frames(load_table(spark, sf_dir, "events"))
    bounds = ev_all.agg(
        F.min(F.col("server_ts").cast("double")).alias("lo"),
        F.max(F.col("server_ts").cast("double")).alias("hi"))

    def tail_only(ev: DataFrame) -> DataFrame:
        f = to_session_frames(ev)
        return (f.join(F.broadcast(bounds))
                .filter(F.col("server_ts").cast("double")
                        >= (F.col("lo") + F.col("hi")) / 2)
                .drop("lo", "hi"))

    # --- batch head: closed sessions + per-user open-session snapshot --
    mid = bounds.select(((F.col("lo") + F.col("hi")) / 2).alias("m")) \
        .collect()[0]["m"]
    head = ev_all.filter(F.col("server_ts").cast("double") < mid)
    w = W.partitionBy("user_id").orderBy("server_ts", "event_id")
    marked = head.select(
        "*",
        F.when(F.col("server_ts").cast("double")
               - F.lag(F.col("server_ts")).over(w).cast("double")
               > GAP_S, 1).otherwise(0).alias("brk"))
    sess = marked.withColumn(
        "sid", F.sum("brk").over(w.rowsBetween(W.unboundedPreceding, 0)))
    per_sess = (sess.groupBy("user_id", "sid")
                .agg(F.min("server_ts").alias("session_start"),
                     F.max("server_ts").alias("session_end"),
                     F.count(F.lit(1)).alias("n_events"),
                     F.sum("value_cents").alias("value_cents"),
                     F.sum("event_id").alias("id_sum"),
                     F.sort_array(F.collect_list("event_id"))
                     .alias("ids"))
                .withColumn("last_sid", F.max("sid").over(
                    W.partitionBy("user_id"))))
    head_closed = (per_sess.filter(F.col("sid") != F.col("last_sid"))
                   .select("user_id", "session_start", "session_end",
                           F.col("n_events").cast("long"),
                           F.col("value_cents").cast("long"),
                           F.col("id_sum").cast("long")))
    initial = (per_sess.filter(F.col("sid") == F.col("last_sid"))
               .select("user_id",
                       F.unix_micros("session_start").alias("start_us"),
                       F.unix_micros("session_end").alias("last_us"),
                       F.col("value_cents").cast("long").alias("cents"),
                       "ids").localCheckpoint(eager=True))
    head_closed = head_closed.localCheckpoint(eager=True)

    # --- engine tail: stream ONLY the post-cut files, seeded ------------
    base = _time_clustered_events_copy(
        spark, sf_dir, transform=tail_only, salt="twsinit1",
        cluster_col="server_ts")
    schema = spark.read.parquet(base).schema

    root = tempfile.mkdtemp(prefix="fg_twsinit_")
    outdir = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    qname = f"fg_tws_init_{uuid.uuid4().hex[:12]}"

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(base)
              .withWatermark("server_ts", "0 seconds"))
    sessions = apply_session_timeout(stream, gap_s=GAP_S,
                                     initial_state=initial)
    with _stream_state_partitions(spark), _rocksdb_state_store(spark):
        q = (sessions.writeStream.format("parquet")
             .option("path", outdir)
             .option("checkpointLocation", ckpt)
             .outputMode("append")
             .queryName(qname)
             .start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    drained = spark.read.parquet(outdir).select(
        "user_id", "session_start", "session_end",
        F.col("n_events").cast("long"), F.col("value_cents").cast("long"),
        F.col("id_sum").cast("long"))
    out = (head_closed.unionByName(drained)
           .orderBy("user_id", "session_start")
           .localCheckpoint(eager=True))
    shutil.rmtree(root, ignore_errors=True)
    return out


@query(
    "stream_engine_backfill_repair",
    survey_ref="S3/T6 + §2.5 streaming: the REST trade-backfill repair "
               "judged through the engine — gaps detected by the kernel, "
               "fetched via the pluggable Fetcher inside foreachBatch, "
               "landed idempotently WITH the live trades",
    description="The book-kernel pipeline run with a deterministic REST "
                "fetcher: every sequence gap is repaired in-batch, and "
                "the drained trades sink equals live + all missing ids "
                "with backfilled=true, exactly once across a mid-drain "
                "restart",
    oracle="""
    WITH p AS (
      SELECT user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY event_id) AS r
      FROM events WHERE event_type = 'purchase'),
    t AS (SELECT user_id, r, r + r // 5 AS tid FROM p)
    SELECT CAST(user_id AS VARCHAR) AS product_id, tid AS trade_id,
           FALSE AS backfilled,
           CAST(NULL AS VARCHAR) AS price,
           CAST(NULL AS VARCHAR) AS volume,
           CAST(NULL AS VARCHAR) AS side
    FROM t
    UNION ALL
    SELECT CAST(user_id AS VARCHAR), tid - 1, TRUE,
           CAST(((tid - 1) * 7) % 1000 AS VARCHAR),
           CAST((tid - 1) % 5 + 1 AS VARCHAR),
           CASE WHEN (tid - 1) % 2 = 1 THEN 'buy' ELSE 'sell' END
    FROM t WHERE r % 5 = 0
    ORDER BY product_id, trade_id, backfilled
    """,
)
def stream_engine_backfill_repair(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """T6 — the reference's async REST backfiller (redis_worker.py:42-94)
    — upgraded from local-test evidence to a VALUE-JUDGED engine row.
    The full production pipeline runs with a Fetcher plugged in: the
    kernel detects every per-product sequence gap (T5), foreachBatch
    collects the batch's gap RANGES (bounded — ranges, never rows),
    pages the fetcher backwards with an ``after`` cursor exactly like
    the reference (100/page, bounded request count), and lands repaired
    trades IN THE SAME idempotent write as the batch's live trades —
    so a replayed micro-batch after the mid-drain kill overwrites its
    own output, repairs included, instead of duplicating them. The
    fetcher here is the deterministic stand-in for the exchange REST
    API (price/volume/side are pure functions of trade_id), which is
    what makes the drained sink SQL-judgeable: live trades carry the
    frames' NULL price fields; every missing id between consecutive
    purchases lands exactly once with backfilled=true and the fetcher's
    values. At 100 TB the same shape holds: gap ranges are driver-tiny,
    the repair lands executor-side in the batch's own write.

    Fixture (r13 redesign, distinct from the book-kernel rows'): trade
    ids are PER-USER RANKED with every fifth id skipped
    (``tid = r + r div 5``), so the repair volume is n_trades/5 — LINEAR
    in the data. The r12 fixture reused the book rows' global event-ids,
    whose per-user gaps average the user count: missing-id volume grew
    QUADRATICALLY with SF (1.28 M repaired rows at sf0.01, JVM-OOM at
    sf1) — a fixture artifact, not operator value; the operator's own
    scale posture (bounded ranges, executor-mapped fetch) is unchanged
    and now actually sweepable at 100× the judged SF."""
    import os
    import shutil
    import tempfile
    import time
    import uuid

    from fictional_guacamole_spark.streaming.frames import (
        ensure_frame_schema)
    from fictional_guacamole_spark.streaming.pipeline import run_pipeline

    def fetcher(product_id: str, after: int) -> list[dict]:
        # deterministic REST stand-in: up to 100 trades strictly below
        # the cursor, descending — the exchange pagination contract
        page = []
        for tid in range(int(after) - 1, max(int(after) - 101, -1), -1):
            page.append({
                "trade_id": tid,
                "price": str((tid * 7) % 1000),
                "volume": str(tid % 5 + 1),
                "side": "buy" if tid % 2 == 1 else "sell",
                "server_ts": None,
                "exchange_ts": None,
            })
        return page

    def bounded_gap_frames(ev: DataFrame) -> DataFrame:
        # per-user rank r over event_id; tid = r + r div 5 skips one id
        # before every fifth trade; arrival order (seq) and event time
        # stay monotone in event_id, same ~14% duplicate delivery as the
        # book rows
        p = (ev.filter(F.col("event_type") == "purchase")
             .withColumn("r", F.row_number().over(
                 W.partitionBy("user_id").orderBy("event_id"))))
        frames = p.select(
            F.col("event_id").alias("seq"),
            F.timestamp_seconds(F.lit(1704067200).cast("long")
                                + _bounded_epoch_secs(F.col("event_id")))
            .alias("server_ts"),
            F.col("user_id").cast("string").alias("product_id"),
            F.lit("match").alias("msg_type"),
            F.lit(None).cast("array<array<string>>").alias("bids"),
            F.lit(None).cast("array<array<string>>").alias("asks"),
            F.lit(None).cast("array<array<string>>").alias("changes"),
            (F.col("r") + F.expr("r DIV 5")).alias("trade_id"),
            F.lit(None).cast("long").alias("sequence"),
            F.lit(None).cast("string").alias("price"),
            F.lit(None).cast("string").alias("volume"),
            F.lit(None).cast("string").alias("side"),
            F.lit(None).cast("timestamp").alias("exchange_ts"),
        )
        frames = ensure_frame_schema(frames)
        return frames.unionByName(frames.filter(F.col("seq") % 7 == 3))

    base = _time_clustered_events_copy(
        spark, sf_dir, transform=bounded_gap_frames,
        salt="backfillframes3", cluster_col="seq")
    schema = spark.read.parquet(base).schema

    root = tempfile.mkdtemp(prefix="fg_backfill_")
    sink = os.path.join(root, "sink")
    ckpt = os.path.join(root, "ckpt")
    qname = f"fg_backfill_{uuid.uuid4().hex[:12]}"

    def start_query():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1").parquet(base))
        return run_pipeline(stream, sink, ckpt, fetcher=fetcher,
                            dedupe_horizon="10 minutes",
                            query_name=qname)

    with _stream_state_partitions(spark):
        q1 = start_query()
        try:
            deadline = time.time() + 120
            while time.time() < deadline:
                if q1.lastProgress is not None:
                    break
                time.sleep(0.05)
        finally:
            q1.stop()
        q2 = start_query()  # same checkpoint: resume, don't restart
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()

    out = (spark.read.parquet(os.path.join(sink, "trades"))
           .select(F.col("product_id").cast("string").alias("product_id"),
                   F.col("trade_id").cast("long").alias("trade_id"),
                   "backfilled", "price", "volume", "side")
           .orderBy("product_id", "trade_id", "backfilled")
           .localCheckpoint(eager=True))
    shutil.rmtree(root, ignore_errors=True)
    return out


@query(
    "stream_engine_book_kernel_tws",
    survey_ref="T1-T5 + §2.5 streaming: the flagship kernel with its "
               "stale-book alarm ARMED — applyInPandasWithState's "
               "event-time timeout + kill/resume; drained sinks "
               "hash-EQUAL to the unarmed row",
    description="The order-book kernel through the engine with the "
                "stale-book alarm armed: same replayed duplicate-delivery "
                "frames, same idempotent sinks, killed mid-drain and "
                "resumed; the per-product alarm rides the kernel's "
                "event-time timeout and its drained sink is hard-checked "
                "in-row",
    oracle="""
    WITH p AS (
      SELECT user_id, event_id,
             LAG(event_id) OVER (PARTITION BY user_id
                                 ORDER BY event_id) AS prev_id
      FROM events WHERE event_type = 'purchase')
    SELECT 'trade' AS out_type, CAST(user_id AS VARCHAR) AS product_id,
           event_id AS trade_id,
           CAST(NULL AS BIGINT) AS gap_first_id,
           CAST(NULL AS BIGINT) AS gap_last_id
    FROM p
    UNION ALL
    SELECT 'gap', CAST(user_id AS VARCHAR), CAST(NULL AS BIGINT),
           prev_id + 1, event_id - 1
    FROM p WHERE prev_id IS NOT NULL AND event_id - prev_id > 1
    ORDER BY product_id, out_type, trade_id NULLS FIRST,
             gap_first_id NULLS FIRST
    """,
)
def stream_engine_book_kernel_tws(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The flagship kernel with its stale-book alarm ARMED, judged on
    the SAME fixture and oracle as ``stream_engine_book_kernel`` so the
    two rows must hash EQUAL: arming the alarm must not move T1–T5.
    Same production pipeline (dedupe → stateful kernel → foreachBatch
    idempotent sinks), same mid-drain kill+resume, same
    applyInPandasWithState kernel (operators/book.py); armed, its state
    adds the alarm anchor and it runs with ``EventTimeTimeout``. (The
    row id dates from the transformWithState port that first carried
    the alarm, since removed.)

    The alarm answers the monitoring question the reference's reconnect
    story implies (real_guac_async.py:43-57). ``stale_after_s``
    is derived from the data as (max intra-product frame gap + 1s), so no
    mid-stream episode can race a batch boundary: the only alarms are
    end-of-stream staleness — product P alarms iff
    ``last_frame(P) + stale_after <= final watermark`` (integer-second
    fixture, so the engine's ms timeout clock is lossless) — and the
    drained stale sink is hard-checked against that closed form in-row
    (a mismatch raises, failing the row). The judged frame stays the
    classic row's trades+gaps union, certified by the same SQL oracle.
    """
    import os
    import shutil
    import tempfile
    import time
    import uuid

    from fictional_guacamole_spark.streaming.pipeline import run_pipeline

    base = _time_clustered_events_copy(
        spark, sf_dir, transform=_match_frames_with_dups,
        salt="bookframes2", cluster_col="seq")
    schema = spark.read.parquet(base).schema

    # stale_after = (largest gap between consecutive frames of one
    # product) + 1s: every mid-stream gap re-arms its timer before the
    # watermark can reach the old deadline, so alarms are exactly the
    # end-of-stream-stale products — a batch-boundary-free closed form.
    # `s` is the frame's SECONDS offset (the fixture's bounded epoch
    # arithmetic — identical to seq below the sf10 knee), so this closed
    # form and the kernel's ms timers stay in the same clock at any SF.
    frames = spark.read.parquet(base).select(
        "product_id",
        _bounded_epoch_secs(F.col("seq").cast("long")).alias("s"))
    gap_s = (frames.withColumn(
        "d", F.col("s") - F.lag("s").over(
            W.partitionBy("product_id").orderBy("s")))
        .agg(F.max("d")).collect()[0][0]) or 0
    stale_after_s = int(gap_s) + 1
    wm_delay_s = 600  # dedupe_horizon below

    root = tempfile.mkdtemp(prefix="fg_booktws_")
    sink = os.path.join(root, "sink")
    ckpt = os.path.join(root, "ckpt")
    qname = f"fg_book_stale_{uuid.uuid4().hex[:12]}"

    def start_query():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1").parquet(base))
        return run_pipeline(stream, sink, ckpt,
                            dedupe_horizon="10 minutes",
                            stale_after_s=stale_after_s,
                            query_name=qname)

    with _stream_state_partitions(spark):
        q1 = start_query()
        try:
            deadline = time.time() + 120
            while time.time() < deadline:
                if q1.lastProgress is not None:
                    break
                time.sleep(0.05)
        finally:
            q1.stop()
        q2 = start_query()  # same checkpoint: resume, don't restart
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()

    # in-row hard check: the stale sink equals the closed form
    # {(P, last+stale_after) : last(P) + stale_after <= max(s) - delay}
    last = frames.groupBy("product_id").agg(F.max("s").alias("last_s"))
    max_s = frames.agg(F.max("s")).collect()[0][0]
    expect = (last.filter(
        F.col("last_s") + stale_after_s <= F.lit(max_s - wm_delay_s))
        .select("product_id",
                F.timestamp_seconds(F.lit(1704067200).cast("long")
                                    + F.col("last_s") + stale_after_s)
                .alias("server_ts")))
    stale_dir = os.path.join(sink, "stale")
    if os.path.isdir(stale_dir):
        got = (spark.read.parquet(stale_dir)
               .select("product_id", "server_ts"))
    else:   # no product went stale at this SF: sink never materialized
        got = expect.limit(0)
    extra = got.exceptAll(expect).count()
    missing = expect.exceptAll(got).count()
    if extra or missing:
        raise RuntimeError(
            f"stale-book alarm sink mismatch: {extra} unexpected, "
            f"{missing} missing (stale_after={stale_after_s}s)")

    null_id = F.lit(None).cast("long")
    trades = (spark.read.parquet(os.path.join(sink, "trades"))
              .select(F.lit("trade").alias("out_type"),
                      F.col("product_id").cast("string").alias("product_id"),
                      F.col("trade_id").cast("long").alias("trade_id"),
                      null_id.alias("gap_first_id"),
                      null_id.alias("gap_last_id")))
    gaps = (spark.read.parquet(os.path.join(sink, "gaps"))
            .select(F.lit("gap").alias("out_type"),
                    F.col("product_id").cast("string").alias("product_id"),
                    null_id.alias("trade_id"),
                    F.col("gap_first_id").cast("long").alias("gap_first_id"),
                    F.col("gap_last_id").cast("long").alias("gap_last_id")))
    out = (trades.unionByName(gaps)
           .orderBy("product_id", "out_type",
                    F.asc_nulls_first("trade_id"),
                    F.asc_nulls_first("gap_first_id"))
           .localCheckpoint(eager=True))
    shutil.rmtree(root, ignore_errors=True)
    return out


@query(
    "stream_engine_tws_ttl_counter",
    survey_ref="§2.5 streaming: state TTL on the arbitrary-state API "
               "(transformWithState TTLConfig) — per-key state expires "
               "between paced micro-batches and the key is reborn, while "
               "an un-TTL'd sibling state persists, both judged",
    description="Per-user counters through the engine with "
                "getValueState(ttlDurationMs=...): the TTL counter resets "
                "every micro-batch (expiry is load-bearing — without it "
                "the column would accumulate), the no-TTL counter "
                "accumulates (persistence is load-bearing); batch "
                "boundaries are explicit NTILE buckets the oracle names",
    oracle="""
    WITH b AS (
      SELECT user_id, event_id,
             NTILE(4) OVER (ORDER BY ts, event_id) AS bucket
      FROM events),
    a AS (
      SELECT user_id, bucket, COUNT(*) AS n_batch
      FROM b GROUP BY 1, 2)
    SELECT user_id, CAST(bucket AS INTEGER) AS bucket, n_batch,
           CAST(SUM(n_batch) OVER (PARTITION BY user_id ORDER BY bucket
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS n_total
    FROM a ORDER BY user_id, bucket
    """,
)
def stream_engine_tws_ttl_counter(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """State TTL judged end-to-end (r12 verdict task #4). The processor
    (operators/ttl_counter.py) keeps two per-user counters; the one
    behind ``ttlDurationMs=10`` must read as ABSENT every micro-batch
    (the foreachBatch sink sleeps 200 ms per commit, so consecutive
    batch timestamps always sit far past the TTL), the one without a
    TTL must survive the whole drain. The fixture gives every
    micro-batch a name the oracle can reproduce: one parquet file per
    NTILE(4) bucket of (ts, event_id), replayed one file per trigger —
    so the drained frame is exactly {user × bucket → (count in bucket,
    running count ≤ bucket)}. TTL expiry and state persistence are each
    load-bearing: a TTL that failed to expire inflates ``n_batch``; a
    persistence break deflates ``n_total``. At 100 TB this is the state
    bound for key-churn workloads — idle keys cost nothing after the
    TTL, with no watermark or timer bookkeeping."""
    import os
    import shutil
    import tempfile
    import time
    import uuid

    from fictional_guacamole_spark.operators.ttl_counter import (
        TTL_COUNTER_INPUT, apply_ttl_counter)

    base = _ntile_bucketed_events_copy(spark, sf_dir, n_buckets=4)

    root = tempfile.mkdtemp(prefix="fg_ttl_")
    outdir = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    qname = f"fg_ttl_counter_{uuid.uuid4().hex[:12]}"

    ttl_ms = 10
    pace_s = 0.2  # >> ttl: the next batch's timestamp clears every TTL

    n_files = 4
    landed: set[int] = set()

    def land(batch_df, batch_id):
        if batch_df.isEmpty():   # processing-time no-data housekeeping
            return               # batches carry nothing to land
        # _batch=<id> dynamic overwrite (per batch id, like the stream
        # pipeline's sinks): a foreachBatch retry after a transient
        # failure REPLACES its own partition instead of double-landing
        # the batch (r13 advisor);
        # the landed set (not a counter) keeps replays from ending the
        # drain early
        (batch_df.withColumn("_batch", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_batch")
         .parquet(outdir))
        landed.add(batch_id)
        time.sleep(pace_s)

    def start_query():
        stream = (spark.readStream.schema(TTL_COUNTER_INPUT)
                  .option("maxFilesPerTrigger", "1").parquet(base))
        counted = apply_ttl_counter(stream, ttl_ms=ttl_ms)
        return (counted.writeStream
                .foreachBatch(land)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .queryName(qname)
                .start())

    with _stream_state_partitions(spark), _rocksdb_state_store(spark):
        q = start_query()
        try:
            # a processing-time-mode stateful query NEVER quiesces: the
            # engine schedules no-data batches indefinitely for TTL
            # housekeeping, so processAllAvailable()/availableNow would
            # wait forever (observed: 400+ empty commits). The drain is
            # done when all n_files one-file data batches have landed.
            deadline = time.time() + 300
            while len(landed) < n_files and time.time() < deadline:
                time.sleep(0.1)
            if len(landed) < n_files:
                raise RuntimeError(
                    f"ttl drain landed {len(landed)}/{n_files} batches "
                    "within 300s")
        finally:
            q.stop()

    out = (spark.read.parquet(outdir)
           .select("user_id", "bucket", "n_batch", "n_total")
           .orderBy("user_id", "bucket")
           .localCheckpoint(eager=True))
    shutil.rmtree(root, ignore_errors=True)
    return out


@query(
    "stream_engine_polo_dialect",
    survey_ref="S2/P1-P7 + §2.5 streaming: the Poloniex positional-array "
               "dialect parsed end-to-end THROUGH the engine — channel-map "
               "resolution, 'i' snapshot install, 'o' deltas, multi-message "
               "P3 flatten, 't' value decoding — into the stateful kernel, "
               "killed mid-drain and resumed",
    description="Synthesized Poloniex wire frames ([channel, seq, "
                "[messages...]] with price-map snapshots and positional "
                "trades) replayed as a streaming text column through "
                "parse_polo_frames and the production pipeline; the "
                "drained trade sink pins every decoded field (trade_id, "
                "sequence, price, volume, side) plus T5 gaps",
    oracle="""
    WITH p AS (
      SELECT user_id % 64 AS prod, event_id,
             LAG(event_id) OVER (PARTITION BY user_id % 64
                                 ORDER BY event_id) AS prev_id
      FROM events WHERE event_type = 'purchase')
    SELECT 'trade' AS out_type, CAST(prod AS VARCHAR) AS product_id,
           event_id AS trade_id, event_id AS sequence,
           CAST((event_id * 7) % 1000 AS VARCHAR) AS price,
           CAST(event_id % 5 + 1 AS VARCHAR) AS volume,
           CASE WHEN event_id % 2 = 1 THEN 'buy' ELSE 'sell' END AS side,
           CAST(NULL AS BIGINT) AS gap_first_id,
           CAST(NULL AS BIGINT) AS gap_last_id
    FROM p
    UNION ALL
    SELECT 'gap', CAST(prod AS VARCHAR), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           prev_id + 1, event_id - 1
    FROM p WHERE prev_id IS NOT NULL AND event_id - prev_id > 1
    ORDER BY product_id, out_type, trade_id NULLS FIRST,
             gap_first_id NULLS FIRST
    """,
)
def stream_engine_polo_dialect(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The Poloniex parser judged through the engine (r12 verdict task
    #7 — until now the polo dialect was parse-tested only; every
    engine-judged streaming row replayed GDAX-shaped frames). The
    fixture is the RAW WIRE SHAPE (polo_ws.py:143-165): one
    ``[channel_id, proto_seq, [messages...]]`` JSON text per frame,
    where purchases become positional ``'t'`` trades (trade_id, side
    code, price, size, epoch seconds — every value re-derived by the
    oracle), each product's first frame is an ``'i'`` snapshot carrying
    the price→size map orderBook (asks-first), and every 5th trade
    frame ALSO carries an ``'o'`` delta in front of its trade — the
    multi-message P3 flatten exercised where it matters, inside one
    micro-batch of the real pipeline. Products are user_id % 64, so the
    subscriber's literal channel map stays bounded at any SF (the
    reference's map is per subscribed pair, polo_ws.py:121-128, not per
    user). The pipeline is run_pipeline unchanged — posexplode flatten →
    channel-map resolve → stateful kernel → idempotent sinks — with the
    standard mid-drain kill+resume; the drained trades pin the polo
    VALUE DECODING (side code 1=buy/0=sell, string price/volume,
    epoch-seconds exchange_ts feeding server_ts) field by field."""
    import os
    import shutil
    import tempfile
    import time
    import uuid

    from fictional_guacamole_spark.streaming.frames import (
        ensure_frame_schema, parse_polo_frames)
    from fictional_guacamole_spark.streaming.pipeline import run_pipeline

    def to_polo_frames(ev: DataFrame) -> DataFrame:
        eid = F.col("event_id")
        prod = F.col("user_id") % 64
        pur = ev.filter(F.col("event_type") == "purchase")
        # epoch seconds bounded: replica-scaled fixtures shift event_ids
        # into the billions and epoch+event_id would pass pandas'
        # year-2262 ns-timestamp bound in the kernel (ArrowInvalid at the
        # sf10 sweep). The modulus is a NO-OP below sf10 (sf1 max
        # event_id ≈ 7.6e8), and this row's timestamps feed only the
        # unjudged server/exchange_ts columns — the kernel orders by seq.
        epoch_s = F.lit(1704067200).cast("long") + eid % 1_000_000_000
        t_msg = F.concat(
            F.lit('["t","'), eid.cast("string"), F.lit('",'),
            (eid % 2).cast("string"), F.lit(',"'),
            ((eid * 7) % 1000).cast("string"), F.lit('","'),
            (eid % 5 + 1).cast("string"), F.lit('",'),
            epoch_s.cast("string"),
            F.lit("]"))
        o_msg = F.concat(
            F.lit('["o",'), (eid % 2).cast("string"), F.lit(',"'),
            ((eid * 3) % 1000).cast("string"), F.lit('","'),
            (eid % 7 + 1).cast("string"), F.lit('"]'))
        msgs = F.when(eid % 5 == 0,
                      F.concat(o_msg, F.lit(","), t_msg)).otherwise(t_msg)
        trades = pur.select(
            eid.alias("seq"),
            F.concat(F.lit("["), (prod + 1000).cast("string"), F.lit(","),
                     eid.cast("string"), F.lit(",["), msgs,
                     F.lit("]]")).alias("value"))
        pcol = F.col("prod")
        snaps = (pur.select(prod.alias("prod")).distinct().select(
            (pcol - 64).cast("long").alias("seq"),   # before every trade
            F.concat(
                F.lit("["), (pcol + 1000).cast("string"),
                F.lit(',1,[["i",{"currencyPair":"'), pcol.cast("string"),
                F.lit('","orderBook":[{"'), (pcol + 901).cast("string"),
                F.lit('":"2"},{"'), (pcol + 899).cast("string"),
                F.lit('":"3"}]}]]]')).alias("value")))
        return snaps.unionByName(trades)

    base = _time_clustered_events_copy(
        spark, sf_dir, transform=to_polo_frames, salt="poloframes2",
        cluster_col="seq")

    root = tempfile.mkdtemp(prefix="fg_polo_")
    sink = os.path.join(root, "sink")
    ckpt = os.path.join(root, "ckpt")
    qname = f"fg_polo_{uuid.uuid4().hex[:12]}"
    channel_map = {str(1000 + c): str(c) for c in range(64)}

    def start_query():
        raw = (spark.readStream.schema("seq long, value string")
               .option("maxFilesPerTrigger", "1").parquet(base))
        frames = ensure_frame_schema(
            parse_polo_frames(raw, channel_map=channel_map))
        return run_pipeline(frames, sink, ckpt, query_name=qname)

    with _stream_state_partitions(spark):
        q1 = start_query()
        try:
            deadline = time.time() + 120
            while time.time() < deadline:
                if q1.lastProgress is not None:
                    break
                time.sleep(0.05)
        finally:
            q1.stop()
        q2 = start_query()  # same checkpoint: resume, don't restart
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()

    null_l = F.lit(None).cast("long")
    null_s = F.lit(None).cast("string")
    trades = (spark.read.parquet(os.path.join(sink, "trades"))
              .select(F.lit("trade").alias("out_type"),
                      F.col("product_id").cast("string").alias("product_id"),
                      F.col("trade_id").cast("long").alias("trade_id"),
                      F.col("sequence").cast("long").alias("sequence"),
                      "price", "volume", "side",
                      null_l.alias("gap_first_id"),
                      null_l.alias("gap_last_id")))
    gaps = (spark.read.parquet(os.path.join(sink, "gaps"))
            .select(F.lit("gap").alias("out_type"),
                    F.col("product_id").cast("string").alias("product_id"),
                    null_l.alias("trade_id"), null_l.alias("sequence"),
                    null_s.alias("price"), null_s.alias("volume"),
                    null_s.alias("side"),
                    F.col("gap_first_id").cast("long").alias("gap_first_id"),
                    F.col("gap_last_id").cast("long").alias("gap_last_id")))
    out = (trades.unionByName(gaps)
           .orderBy("product_id", "out_type",
                    F.asc_nulls_first("trade_id"),
                    F.asc_nulls_first("gap_first_id"))
           .localCheckpoint(eager=True))
    shutil.rmtree(root, ignore_errors=True)
    return out
