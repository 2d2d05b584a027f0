"""Unit + property tests for the order-book kernel (SURVEY.md §5.3).

The property test drives random delta sequences through the incremental
kernel and checks it against a naive apply-all-then-sort oracle — the
invariant the reference's positional-insert code was trying to maintain
(and got wrong on one path, polo_ws.py:60-62)."""

from __future__ import annotations

from decimal import Decimal

from hypothesis import given, settings
from hypothesis import strategies as st

from fictional_guacamole_spark.operators.book import (
    OrderBook, process_frames, replay_frames_batch)


def frame(seq, mtype, product="ETH-USD", **kw):
    base = {"seq": seq, "msg_type": mtype, "product_id": product,
            "server_ts": None, "bids": None, "asks": None, "changes": None,
            "trade_id": None, "sequence": None, "price": None,
            "volume": None, "side": None, "exchange_ts": None}
    base.update(kw)
    return base


class TestSnapshotAndMerge:
    def test_snapshot_install_sorts_on_emit(self):
        b = OrderBook()
        b.install_snapshot(bids=[["100.5", "1"], ["101.0", "2"], ["99.9", "3"]],
                           asks=[["102.0", "1"], ["101.5", "4"]])
        bids, asks = b.top_levels(depth=15)
        assert bids == ["2@101.0", "1@100.5", "3@99.9"]       # price desc
        assert asks == ["4@101.5", "1@102.0"]                 # price asc

    def test_update_existing_level(self):
        b = OrderBook()
        b.install_snapshot(bids=[["100", "1"]], asks=[])
        b.apply_change("buy", "100", "5")
        assert b.top_levels()[0] == ["5@100"]

    def test_delete_on_zero_volume(self):
        b = OrderBook()
        b.install_snapshot(bids=[["100", "1"], ["99", "2"]], asks=[])
        b.apply_change("buy", "100", "0")
        assert b.top_levels()[0] == ["2@99"]

    def test_delete_works_at_any_depth(self):
        # the reference only deleted when the level was found by linear
        # scan; deleting a never-seen price must be a no-op, not an error
        b = OrderBook()
        b.apply_change("sell", "55", "0")
        assert b.top_levels() == ([], [])

    def test_insert_new_level_keeps_order(self):
        b = OrderBook()
        b.install_snapshot(bids=[["100", "1"], ["98", "1"]], asks=[])
        b.apply_change("buy", "99", "7")
        assert b.top_levels()[0] == ["1@100", "7@99", "1@98"]

    def test_exact_decimal_prices_not_floats(self):
        # 0.1 + 0.2 style prices must stay exact strings
        b = OrderBook()
        b.install_snapshot(bids=[["0.30000000000000004", "1"], ["0.3", "2"]],
                           asks=[])
        assert b.top_levels()[0] == ["1@0.30000000000000004", "2@0.3"]

    def test_top15_truncates_deep_books(self):
        b = OrderBook()
        b.install_snapshot(bids=[[str(100 + i), "1"] for i in range(40)], asks=[])
        bids, _ = b.top_levels()
        assert len(bids) == 15
        assert bids[0] == "1@139"

    def test_shallow_book_is_not_an_error(self):
        # the reference raised IndexError below 15 levels (real_guac.py:73)
        b = OrderBook()
        b.install_snapshot(bids=[["1", "1"]], asks=[])
        assert b.top_levels()[0] == ["1@1"]


class TestChangeDedup:
    def test_deep_book_change_suppressed(self):
        b = OrderBook()
        b.install_snapshot(bids=[[str(200 - i), "1"] for i in range(20)], asks=[])
        assert b.emit_if_changed() is not None
        b.apply_change("buy", "170", "9")   # level 31 of the book
        assert b.emit_if_changed() is None  # top-15 unchanged → no emit

    def test_top_change_emits(self):
        b = OrderBook()
        b.install_snapshot(bids=[["100", "1"]], asks=[])
        assert b.emit_if_changed() is not None
        b.apply_change("buy", "101", "2")
        emitted = b.emit_if_changed()
        assert emitted is not None and emitted[0][0] == "2@101"

    def test_identical_snapshot_suppressed(self):
        b = OrderBook()
        b.install_snapshot(bids=[["100", "1"]], asks=[])
        assert b.emit_if_changed() is not None
        b.install_snapshot(bids=[["100", "1"]], asks=[])
        assert b.emit_if_changed() is None


class _NaiveDedupBook:
    """Oracle for the fast-path dirty guard: full re-select on every emit,
    dedup by comparing against the last emitted top — no boundary
    tracking, so it can't share the fast path's bugs."""

    def __init__(self):
        self.bids: dict[float, tuple[str, str]] = {}
        self.asks: dict[float, tuple[str, str]] = {}
        self.last = None

    def change(self, side, price, volume):
        book = self.bids if side == "buy" else self.asks
        f = float(price)
        if float(volume) == 0.0:
            book.pop(f, None)
        else:
            book[f] = (price, volume)

    def emit(self, depth):
        top = ([f"{self.bids[f][1]}@{self.bids[f][0]}"
                for f in sorted(self.bids, reverse=True)[:depth]],
               [f"{self.asks[f][1]}@{self.asks[f][0]}"
                for f in sorted(self.asks)[:depth]])
        key = (tuple(top[0]), tuple(top[1]))
        if key == self.last:
            return None
        self.last = key
        return top


# Tight price universe + depth 3 ⇒ every sequence oscillates levels at and
# around the emitted boundary (the _bid_floor/_ask_ceil fast-path guards),
# including boundary-equal deletes, same-key re-inserts, crossed books
# (both sides share the universe), and shallow↔full transitions.
_boundary_prices = st.sampled_from([f"{p}" for p in range(1, 7)])
_boundary_ops = st.lists(
    st.one_of(
        st.tuples(st.just("change"),
                  st.sampled_from(["buy", "sell"]),
                  _boundary_prices,
                  st.sampled_from(["0", "0", "1", "2"])),  # delete-heavy
        st.tuples(st.just("emit")),
    ),
    min_size=1, max_size=80)


class TestBoundaryFastPath:
    """r4 verdict task 8: adversarial oscillation of the depth-th level
    exactly at the dirty-guard boundary (operators/book.py:102-108 and the
    floor/ceil refresh in emit_if_changed)."""

    @settings(max_examples=300, deadline=None)
    @given(snapshot_bids=st.dictionaries(
               _boundary_prices, st.sampled_from(["1", "2"]), max_size=5),
           snapshot_asks=st.dictionaries(
               _boundary_prices, st.sampled_from(["1", "2"]), max_size=5),
           ops=_boundary_ops)
    def test_dirty_guard_equals_full_reselect(self, snapshot_bids,
                                              snapshot_asks, ops):
        depth = 3
        fast = OrderBook()
        fast.install_snapshot(bids=list(snapshot_bids.items()),
                              asks=list(snapshot_asks.items()))
        naive = _NaiveDedupBook()
        for p, v in snapshot_bids.items():
            naive.change("buy", p, v)
        for p, v in snapshot_asks.items():
            naive.change("sell", p, v)
        assert fast.emit_if_changed(depth) == naive.emit(depth)

        for op in ops:
            if op[0] == "change":
                _, side, price, volume = op
                fast.apply_change(side, price, volume)
                naive.change(side, price, volume)
            else:
                assert fast.emit_if_changed(depth) == naive.emit(depth)
        # final emit always compared, so trailing batched changes count
        assert fast.emit_if_changed(depth) == naive.emit(depth)

    def test_boundary_equal_delete_then_reinsert(self):
        # delete exactly the emitted floor level, then re-insert the same
        # key with the same volume before the next emit: top is unchanged
        # overall and must dedup, but both ops sit ON the boundary
        b = OrderBook()
        b.install_snapshot(bids=[["5", "1"], ["4", "1"], ["3", "1"],
                                 ["2", "1"]], asks=[])
        assert b.emit_if_changed(3) is not None   # floor = 3
        b.apply_change("buy", "3", "0")           # boundary-equal delete
        b.apply_change("buy", "3", "1")           # boundary re-insert
        assert b.emit_if_changed(3) is None
        b.apply_change("buy", "3", "0")           # delete again, emit now
        emitted = b.emit_if_changed(3)
        assert emitted is not None and emitted[0] == ["1@5", "1@4", "1@2"]

    def test_oscillation_below_floor_stays_clean(self):
        # churn strictly below a full top must never dirty the book
        b = OrderBook()
        b.install_snapshot(bids=[["9", "1"], ["8", "1"], ["7", "1"]],
                           asks=[])
        assert b.emit_if_changed(3) is not None   # floor = 7
        for _ in range(5):
            b.apply_change("buy", "6.99", "2")
            b.apply_change("buy", "6.99", "0")
        assert b.emit_if_changed(3) is None

    def test_short_top_disables_guard(self):
        # with a shallow top the floor is None: ANY insert must emit
        b = OrderBook()
        b.install_snapshot(bids=[["9", "1"], ["8", "1"]], asks=[])
        assert b.emit_if_changed(3) is not None
        b.apply_change("buy", "1", "1")           # far below, but top short
        emitted = b.emit_if_changed(3)
        assert emitted is not None and emitted[0] == ["1@9", "1@8", "1@1"]


class TestGapDetection:
    def test_first_trade_initializes_silently(self):
        b = OrderBook()
        assert b.observe_trade(500) is None

    def test_contiguous_no_gap(self):
        b = OrderBook()
        b.observe_trade(1)
        assert b.observe_trade(2) is None

    def test_gap_detected_and_enumerable(self):
        b = OrderBook()
        b.observe_trade(10)
        assert b.observe_trade(14) == (11, 13)

    def test_out_of_order_trade_does_not_regress_watermark(self):
        b = OrderBook()
        b.observe_trade(10)
        assert b.observe_trade(8) is None
        assert b.max_trade_id == 10


class TestStateRoundTrip:
    def test_serialize_deserialize_identity(self):
        b = OrderBook()
        b.install_snapshot(bids=[["100.1", "2.5"]], asks=[["101", "1"]])
        b.emit_if_changed()
        b.observe_trade(42)
        b2 = OrderBook.from_state(*b.to_state())
        assert b2.bids == b.bids and b2.asks == b.asks
        assert b2.last_emitted == b.last_emitted
        assert b2.max_trade_id == 42
        assert b2.emit_if_changed() is None  # dedup state survived


class TestProcessFrames:
    def test_full_sequence_tagged_outputs(self):
        frames = [
            frame(0, "snapshot", bids=[["100", "1"]], asks=[["101", "2"]]),
            frame(1, "l2update", changes=[["buy", "100.5", "3"]]),
            frame(2, "match", trade_id=7, price="100.6", volume="0.5",
                  side="buy"),
            frame(3, "match", trade_id=10, price="100.7", volume="0.1",
                  side="sell"),
            frame(4, "unknown_type"),
        ]
        out = replay_frames_batch(None, frames)
        kinds = [r["out_type"] for r in out]
        assert kinds == ["book", "book", "trade", "gap", "trade"]
        gap = next(r for r in out if r["out_type"] == "gap")
        assert (gap["gap_first_id"], gap["gap_last_id"]) == (8, 9)
        book = out[1]
        assert book["bids"] == ["3@100.5", "1@100"]

    def test_products_isolated(self):
        frames = [
            frame(0, "snapshot", product="A", bids=[["1", "1"]], asks=[]),
            frame(1, "snapshot", product="B", bids=[["9", "9"]], asks=[]),
        ]
        out = replay_frames_batch(None, frames)
        by_product = {r["product_id"]: r for r in out}
        assert by_product["A"]["bids"] == ["1@1"]
        assert by_product["B"]["bids"] == ["9@9"]


class TestEmitFastPath:
    def test_deep_change_fast_path_then_top_change(self):
        b = OrderBook()
        b.install_snapshot(bids=[[str(200 - i), "1"] for i in range(30)],
                           asks=[[str(300 + i), "1"] for i in range(30)])
        assert b.emit_if_changed() is not None
        # deep updates: fast path, no emit, thresholds stay valid
        for p in range(150, 160):
            b.apply_change("buy", str(p), "7")
            assert b.emit_if_changed() is None
        # then a genuine top change must still emit correctly
        b.apply_change("buy", "250", "9")
        emitted = b.emit_if_changed()
        assert emitted is not None and emitted[0][0] == "9@250"

    def test_short_top_insert_below_floor_still_emits(self):
        # with fewer than depth levels any insert joins the top — the
        # floor guard must be disabled for short tops
        b = OrderBook()
        b.install_snapshot(bids=[["100", "1"], ["90", "1"]], asks=[])
        assert b.emit_if_changed() is not None
        b.apply_change("buy", "50", "2")   # below previous min price
        emitted = b.emit_if_changed()
        assert emitted is not None
        assert emitted[0] == ["1@100", "1@90", "2@50"]


# --- property test vs naive oracle -----------------------------------------

# Three non-overlapping realistic tick grids (integer, 2-decimal fiat,
# 8-decimal crypto) — exercises the float-keyed book against the pure
# string/Decimal oracle across the formats real feeds emit. Grids are
# value-disjoint so string↔value stays bijective (the float-keyed book
# merges value-equal strings like "1" vs "1.00" by design; the oracle
# keys strings, so aliased values would make the comparison ill-posed).
prices = st.one_of(
    st.integers(min_value=1, max_value=30).map(str),
    st.integers(min_value=3101, max_value=3130).map(lambda n: f"{n / 100:.2f}"),
    st.integers(min_value=1, max_value=30).map(lambda n: f"{n / 10**8:.8f}"),
)
volumes = st.integers(min_value=0, max_value=9).map(str)
sides = st.sampled_from(["buy", "sell"])
changes = st.lists(st.tuples(sides, prices, volumes), min_size=0, max_size=60)
snapshot_levels = st.dictionaries(prices, volumes.filter(lambda v: v != "0"),
                                  max_size=20)


@settings(max_examples=50, deadline=None)
@given(deltas=changes,
       trade_ids=st.lists(st.integers(1, 40), min_size=0, max_size=10))
def test_process_batch_equals_process_frames(deltas, trade_ids):
    """The columnar fast path used by the Spark kernels must emit, per
    output type, the exact row sequence of the dict-based reference
    implementation (the union is split into book/trade/gap streams at
    emission; each stream keeps its own order)."""
    import pandas as pd
    from fictional_guacamole_spark.operators.book import process_batch

    frames = [frame(0, "snapshot", bids=[["100", "1"], ["90", "2"]],
                    asks=[["110", "1"]])]
    seq = 1
    for side, price, volume in deltas:
        frames.append(frame(seq, "l2update", changes=[[side, price, volume]]))
        seq += 1
    for tid in trade_ids:
        frames.append(frame(seq, "match", trade_id=tid,
                            price="1", volume="1", side="buy"))
        seq += 1

    ref = list(process_frames(OrderBook(), iter(frames)))
    fast = process_batch(OrderBook(), pd.DataFrame(frames))

    assert fast.books == [
        (r["product_id"], r["server_ts"], r["bids"], r["asks"])
        for r in ref if r["out_type"] == "book"]
    assert fast.trades == [
        (r["product_id"], r["server_ts"], r["exchange_ts"], r["sequence"],
         r["trade_id"], r["price"], r["volume"], r["side"], r["backfilled"])
        for r in ref if r["out_type"] == "trade"]
    assert fast.gaps == [
        (r["product_id"], r["server_ts"], r["gap_first_id"], r["gap_last_id"])
        for r in ref if r["out_type"] == "gap"]


@settings(max_examples=50, deadline=None)
@given(deltas=changes,
       trade_ids=st.lists(st.integers(1, 40), min_size=0, max_size=10))
def test_process_table_equals_process_batch(deltas, trade_ids):
    """The pyarrow backend (batch applyInArrow path, round 15) must emit
    the byte-identical BatchOut of the pandas backend over the same
    frames — including when the batch arrives OUT of seq order, since the
    arrow path orders via a stable argsort where pandas uses a stable
    frame sort."""
    import pandas as pd
    import pyarrow as pa
    from fictional_guacamole_spark.operators.book import (
        process_batch, process_table)

    frames = [frame(0, "snapshot", bids=[["100", "1"], ["90", "2"]],
                    asks=[["110", "1"]])]
    seq = 1
    for side, price, volume in deltas:
        frames.append(frame(seq, "l2update", changes=[[side, price, volume]]))
        seq += 1
    for tid in trade_ids:
        frames.append(frame(seq, "match", trade_id=tid,
                            price="1", volume="1", side="buy"))
        seq += 1
    frames = frames[::-1]  # exercise both backends' stable seq sort

    fast = process_batch(OrderBook(), pd.DataFrame(frames))
    arr = process_table(OrderBook(), pa.Table.from_pylist(frames))
    assert arr == fast


@settings(max_examples=200, deadline=None)
@given(snapshot_bids=snapshot_levels, snapshot_asks=snapshot_levels,
       deltas=changes)
def test_incremental_merge_equals_batch_oracle(snapshot_bids, snapshot_asks,
                                               deltas):
    """Incremental state after N deltas == naive dict-apply-then-sort."""
    b = OrderBook()
    b.install_snapshot(bids=list(snapshot_bids.items()),
                       asks=list(snapshot_asks.items()))
    for side, price, volume in deltas:
        b.apply_change(side, price, volume)

    # oracle: plain dict application
    obids, oasks = dict(snapshot_bids), dict(snapshot_asks)
    for side, price, volume in deltas:
        book = obids if side == "buy" else oasks
        if Decimal(volume) == 0:
            book.pop(price, None)
        else:
            book[price] = volume
    exp_bids = [f"{obids[p]}@{p}" for p in
                sorted(obids, key=Decimal, reverse=True)[:15]]
    exp_asks = [f"{oasks[p]}@{p}" for p in sorted(oasks, key=Decimal)[:15]]

    assert b.top_levels() == (exp_bids, exp_asks)


@settings(max_examples=200, deadline=None)
@given(snapshot_bids=snapshot_levels, snapshot_asks=snapshot_levels,
       deltas=changes)
def test_emit_fast_path_equals_naive_emitter(snapshot_bids, snapshot_asks,
                                             deltas):
    """The dirty/threshold fast path must produce the exact same emit
    sequence as recomputing + comparing the top on every single change."""
    depth = 3  # small depth so deltas routinely cross the threshold

    b = OrderBook()
    b.install_snapshot(bids=list(snapshot_bids.items()),
                       asks=list(snapshot_asks.items()))
    emits = [b.emit_if_changed(depth)]

    # naive reference: plain dicts, full re-sort + compare each step
    obids, oasks = dict(snapshot_bids), dict(snapshot_asks)
    last = None

    def naive_top():
        eb = [f"{obids[p]}@{p}" for p in
              sorted(obids, key=Decimal, reverse=True)[:depth]]
        ea = [f"{oasks[p]}@{p}" for p in sorted(oasks, key=Decimal)[:depth]]
        return eb, ea

    def naive_emit():
        nonlocal last
        top = naive_top()
        key = (tuple(top[0]), tuple(top[1]))
        if key == last:
            return None
        last = key
        return top

    naive_emits = [naive_emit()]
    for side, price, volume in deltas:
        b.apply_change(side, price, volume)
        emits.append(b.emit_if_changed(depth))
        book = obids if side == "buy" else oasks
        if Decimal(volume) == 0:
            book.pop(price, None)
        else:
            book[price] = volume
        naive_emits.append(naive_emit())

    assert emits == naive_emits
