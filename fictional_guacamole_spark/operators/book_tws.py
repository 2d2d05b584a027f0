"""Order-book kernel on Spark 4's arbitrary-state API (transformWithState).

The flagship custom kernel (SURVEY.md §2.3 T1–T5, operators/book.py) ported
from ``applyInPandasWithState`` to ``transformWithStateInPandas`` — the API
this repo already proves out for timers/ListState/initial state
(operators/gap_alarm.py, operators/session_state.py). The port reuses the
same pure kernel VERBATIM (``OrderBook`` + ``process_batch``, so T1–T5
semantics cannot drift between the APIs), with each product's book in its
own ``ValueState`` — one state key per product, as the reference keeps one
book per product — plus two capabilities the old API cannot express:

- a STALE-BOOK event-time timer: the reference's reconnect story
  (/root/reference/real_guac_async.py:43-57 — a feed that stops updating
  forces a reconnect) implies the monitoring question "has this product's
  book gone ``stale_after_s`` without any frame?"; the processor registers
  a timer at last-frame-time + T on every batch and emits an
  ``out_type="stale"`` row when the watermark passes it with no newer
  frame — per-key engine state, no driver involvement;
- ``handleInitialState``: a new deployment seeds each product's book from
  a batch-computed snapshot (bids/asks/last-emitted/max-trade-id in
  STATE_SCHEMA shape) and streams only from the cut point — the
  tws_initial_state pattern applied to the book.

The stale rows ride the same tagged union (new tag), so the production
demux routes them to their own sink; trades/books/gaps are byte-identical
to the classic kernel's (pinned by the hash-equal judged row
``stream_engine_book_kernel_tws`` and the cross-API equality test).
``streaming.pipeline.run_pipeline`` runs this kernel exactly when the
stale alarm is armed; without it the classic kernel gives the same sinks
cheaper (SCALE.md r14, "Bottom line").
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd

from pyspark.sql import functions as F

from fictional_guacamole_spark.operators.book import (
    BOOK_DEPTH, OUTPUT_SCHEMA, OrderBook, _out_to_pdfs, _type_pdf,
    process_batch)
from fictional_guacamole_spark.operators.gap_alarm import _ensure_protobuf

_ensure_protobuf()

from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    ExpiredTimerInfo,
    StatefulProcessor,
    StatefulProcessorHandle,
    TimerValues,
)

BOOK_STATE_DDL = ("bids_json string, asks_json string, "
                  "last_emitted_json string, max_trade_id long")

# The frame columns tws receives with the nested level arrays JSON-encoded.
# transformWithStateInPandas's input serializer (pyspark
# sql/pandas/serializers.py row_stream → per-row arrow_to_pandas) SEGFAULTS
# on array<array<string>> columns whenever a grouping key spans more than
# one row in a batch (reproduced minimally: two rows, one key, one all-null
# list<list<string>> column; flat array<string> and every scalar type are
# fine, and applyInPandasWithState's serializer handles the same frames
# untouched). Until that upstream path is fixed the nested snapshot/delta
# arrays cross the Arrow boundary as JSON TEXT — the exchange's own wire
# encoding of the same values — and are decoded back to lists inside the
# processor before the shared pure kernel runs.
_NESTED_COLS = ("bids", "asks", "changes")


def _register_by_value() -> None:
    """By-value pickling for this module + its dependencies (book's pure
    kernel, gap_alarm's protobuf fallback) so the processor unpickles in
    the driver-side transform_with_state_driver_worker, which does not
    inherit the addPyFile zip (see gap_alarm._register_by_value)."""
    import sys

    from pyspark import cloudpickle

    from fictional_guacamole_spark.operators import book as _book
    from fictional_guacamole_spark.operators import gap_alarm as _ga

    cloudpickle.register_pickle_by_value(sys.modules[_book.__name__])
    cloudpickle.register_pickle_by_value(sys.modules[_ga.__name__])
    cloudpickle.register_pickle_by_value(sys.modules[__name__])


class BookKernelProcessor(StatefulProcessor):
    """T1–T5 via transformWithState; optional stale-book alarm timer."""

    def __init__(self, depth: int = BOOK_DEPTH,
                 stale_after_s: int | None = None):
        self.depth = depth
        self.stale_after_ms = (None if stale_after_s is None
                               else stale_after_s * 1000)

    def __setstate__(self, state):
        # unpickle-time hook: the protobuf fallback must run in every
        # worker (by-value pickling skips module-level code there)
        _ensure_protobuf()
        self.__dict__.update(state)

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.handle = handle
        self.book_state = handle.getValueState("book", BOOK_STATE_DDL)
        if self.stale_after_ms is not None:
            # last frame's event time (ms) — the stale-timer anchor
            self.last_ms = handle.getValueState("last_ms", "ms long")

    def handleInitialState(self, key, initialState: pd.DataFrame,
                           timerValues: TimerValues) -> None:
        row = initialState.iloc[0]
        self.book_state.update((
            row["bids_json"], row["asks_json"], row["last_emitted_json"],
            None if pd.isna(row["max_trade_id"])
            else int(row["max_trade_id"])))
        if self.stale_after_ms is not None:
            # arm the stale alarm for BOOTSTRAPPED products too, anchored
            # at the migration cut point — a seeded product that never
            # streams a frame is exactly the dead-feed case the alarm
            # exists for (r13 review), and without this seed its book
            # would sit stale forever unnoticed
            if "as_of_ts" not in initialState.columns:
                raise ValueError(
                    "stale_after_s with an initial state requires an "
                    "as_of_ts column (the migration cut point anchoring "
                    "each bootstrapped product's stale timer)")
            ms = int(pd.Timestamp(row["as_of_ts"]).value // 1_000_000)
            self.last_ms.update((ms,))
            self.handle.registerTimer(ms + self.stale_after_ms)

    def handleInputRows(self, key, rows: Iterator[pd.DataFrame],
                        timerValues: TimerValues) -> Iterator[pd.DataFrame]:
        if self.book_state.exists():
            book = OrderBook.from_state(*self.book_state.get())
        else:
            book = OrderBook()
        batches = list(rows)
        pdf = pd.concat(batches) if len(batches) > 1 else batches[0]
        for col in _NESTED_COLS:   # JSON text → lists (see _NESTED_COLS)
            pdf[col] = pdf[col].map(
                lambda s: json.loads(s) if isinstance(s, str) else None)
        out = process_batch(book, pdf, self.depth)
        self.book_state.update(book.to_state())
        if self.stale_after_ms is not None:
            # re-arm the stale alarm: drop the previously-armed deadline,
            # register last-frame-time + T (event time, ms)
            new_ms = int(pd.to_datetime(pdf["server_ts"]).max().value
                         // 1_000_000)
            if self.last_ms.exists():
                old = self.last_ms.get()[0]
                if new_ms < old:   # late batch: keep the newer anchor
                    new_ms = old
                self.handle.deleteTimer(old + self.stale_after_ms)
            self.last_ms.update((new_ms,))
            self.handle.registerTimer(new_ms + self.stale_after_ms)
        yield from _out_to_pdfs(out)

    def handleExpiredTimer(self, key, timerValues: TimerValues,
                           expiredTimerInfo: ExpiredTimerInfo
                           ) -> Iterator[pd.DataFrame]:
        expiry = expiredTimerInfo.getExpiryTimeInMs()
        if not self.last_ms.exists():
            return iter(())
        deadline = self.last_ms.get()[0] + self.stale_after_ms
        if deadline > expiry:      # superseded by a newer frame
            return iter(())
        # the book went stale_after_s with no frame: one alarm row,
        # stamped at the deadline; the anchor clears so the alarm fires
        # once per stale episode (the next frame re-arms)
        self.last_ms.clear()
        return iter([_type_pdf("stale", {
            "product_id": [key[0]],
            "server_ts": [pd.Timestamp(deadline, unit="ms")],
        })])

    def close(self) -> None:
        pass


def apply_book_kernel_tws(frames_df, depth: int = BOOK_DEPTH,
                          stale_after_s: int | None = None,
                          initial_state=None):
    """Wire the tws kernel onto a (watermarked, for timers) frame stream,
    one state key per product.

    ``stale_after_s`` arms the per-product stale-book alarm (event-time
    timers; requires a watermark on server_ts). ``initial_state``: batch
    DataFrame (product_id + STATE_SCHEMA columns) seeding each product's
    book via handleInitialState — the batch→stream migration path. With
    BOTH set, the initial state must also carry an ``as_of_ts``
    timestamp column (the migration cut point): every bootstrapped
    product's stale timer arms from it, so a seeded product whose feed
    never produces a frame still alarms."""
    _ensure_protobuf(required=True)
    _register_by_value()
    # nested level arrays cross the boundary as JSON text (see _NESTED_COLS)
    frames_df = frames_df.withColumns(
        {c: F.to_json(F.col(c)) for c in _NESTED_COLS})
    return (frames_df.groupBy("product_id")
            .transformWithStateInPandas(
                BookKernelProcessor(depth, stale_after_s),
                outputStructType=OUTPUT_SCHEMA,
                outputMode="append",
                timeMode=("eventTime" if stale_after_s is not None
                          else "None"),
                initialState=(initial_state.groupBy("product_id")
                              if initial_state is not None else None)))
