"""Trade backfill (SURVEY.md §2.3 T6): repair sequence gaps by fetching
missed trades from a REST source and appending them with
``backfilled=True``.

Reproduces the reference's async backfiller semantics
(/root/reference/redis_worker.py:42-94): page backwards with an ``after``
cursor, 100 trades per request, bounded request count, set-difference
bookkeeping of filled vs still-missing ids, audit logging of anything
unrecoverable. The REST client is pluggable (tests inject a canned
fetcher; a live deployment wires a ccxt-style client).

Where it runs: inside the batch writer's one action, EXECUTOR-SIDE — each
task of the stateful kernel's output calls :func:`backfill_gaps` on the gap
RANGES it holds (small: ranges, never rows), and the repaired trades are
staged with the task's live trades into the batch's one idempotent
publish (streaming/pipeline.py::make_batch_writer). As in the reference's
single backfill worker, one task pages each range: the kernel
hash-partitions by product, gaps are coalesced per product, so an outage
is one range in one task. The driver never materializes a repaired row.
"""

from __future__ import annotations

import logging
import math
from typing import TYPE_CHECKING, Callable, Iterable

if TYPE_CHECKING:  # pragma: no cover - typing only
    from pyspark.sql import SparkSession

logger = logging.getLogger("fictional_guacamole_spark.backfill")

PAGE_SIZE = 100          # trades per request (redis_worker.py:46)

# fetcher(product_id, after_id) -> list of trade dicts with at least
# {"trade_id": int, "price": str, "volume": str, "side": str,
#  "exchange_ts": datetime|None}
Fetcher = Callable[[str, int], list[dict]]


def backfill_gaps(gaps: Iterable[dict], fetcher: Fetcher) -> list[dict]:
    """Fetch all missing trades for the given gap records.

    Each gap is {"product_id", "gap_first_id", "gap_last_id"}. Pages with
    an ``after`` cursor at most ceil(missing/PAGE_SIZE) times per gap
    (the reference's ``recursive_count`` bound, redis_worker.py:46,50,82);
    ids that never arrive are logged at CRITICAL (redis_worker.py:85-91).
    """
    repaired: list[dict] = []
    for gap in gaps:
        product = gap["product_id"]
        first, last = int(gap["gap_first_id"]), int(gap["gap_last_id"])
        missing = set(range(first, last + 1))
        max_requests = max(1, math.ceil(len(missing) / PAGE_SIZE))
        cursor = last + 1
        for _ in range(max_requests):
            if not missing:
                break
            page = fetcher(product, cursor)
            if not page:
                break
            for trade in page:
                tid = int(trade["trade_id"])
                if tid in missing:
                    missing.discard(tid)
                    repaired.append({
                        "out_type": "trade", "product_id": product,
                        "trade_id": tid,
                        "sequence": None,       # redis_worker.py:67
                        "price": str(trade.get("price")),
                        "volume": str(trade.get("volume")),
                        "side": trade.get("side"),
                        "server_ts": trade.get("server_ts"),
                        "exchange_ts": trade.get("exchange_ts"),
                        "backfilled": True,      # redis_worker.py:66
                    })
            cursor = min(t["trade_id"] for t in page)
        if missing:
            logger.critical(
                "backfill incomplete for %s: %d ids unrecovered (%s)",
                product, len(missing), sorted(missing)[:10])
    return repaired


def _repair_partitions(spark: "SparkSession") -> int:
    """Tasks one repair runs: the batch writer repairs inside the
    stateful kernel's own tasks, so this is the kernel's partition count,
    which for a fresh checkpoint is ``spark.sql.shuffle.partitions``."""
    return int(spark.conf.get("spark.sql.shuffle.partitions"))
