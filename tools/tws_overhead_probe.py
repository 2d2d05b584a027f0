#!/usr/bin/env python
"""Attribute the transformWithState overhead (SCALE.md r14).

The r14 keys-vs-overhead curve showed key bucketing recovers only part
of the tws kernel's ~1.9x-vs-classic cost at sf1 — so the remainder is
NOT the per-key state protocol. This probe isolates the API itself:
the SAME sf1 frame fixture is drained through

  A. applyInPandasWithState with a NO-OP kernel (count rows per key,
     no state reads/writes beyond the mandatory state arg), and
  B. transformWithStateInPandas with a NO-OP processor (no state
     variables at all, timeMode None),

both keyed per product (~15k keys) and sunk to the noop sink. Neither
leg runs the book kernel, JSON detour, dedupe, or sinks — the wall-time
difference is the two APIs' serializer + per-key dispatch cost alone.

Run on a QUIET host:  python tools/tws_overhead_probe.py [fixture_dir]
(default: the book rows' sf1 fixture dir, resolved from /tmp/fg_sf1).
Prints one JSON line with both timings.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from fictional_guacamole_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_MIRROR_SF_DIR", "/tmp/fg_sf1")

COUNT_OUT = "product_id string, n long"
# passthrough legs: emit every input row back, so the OUTPUT serializer
# cost scales with row volume (the count legs' outputs are one row per
# key, so they only exercise the INPUT path)
PASS_OUT = ("seq long, server_ts timestamp, product_id string, "
            "msg_type string, trade_id long")
PASS_COLS = ["seq", "server_ts", "product_id", "msg_type", "trade_id"]
# array legs: same passthrough plus a 15-element array<string> column
# per row — the judged book rows' output shape (top-K level lists)
ARR_OUT = PASS_OUT + ", levels array<string>"
_ARR_VAL = [f"{i}@10{i}" for i in range(15)]


class _TwsNoopBase:
    """Module-scope anchor so cloudpickle by-value registration covers
    the processor class (see operators/gap_alarm._register_by_value)."""


def _build_noop_processor():
    from fictional_guacamole_spark.operators.gap_alarm import (
        _ensure_protobuf)
    _ensure_protobuf(required=True)
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class P(StatefulProcessor, _TwsNoopBase):
        def __init__(self, passthrough: bool = False):
            self.passthrough = passthrough

        def __setstate__(self, state):
            _ensure_protobuf()
            self.__dict__.update(state)

        def init(self, handle):
            pass

        def handleInputRows(self, key, rows, timerValues):
            import pandas as _pd
            if self.passthrough == "array":
                for pdf in rows:
                    out = pdf[PASS_COLS].copy()
                    out["levels"] = [_ARR_VAL] * len(out)
                    yield out
                return
            if self.passthrough:
                for pdf in rows:
                    yield pdf[PASS_COLS]
                return
            n = sum(len(pdf) for pdf in rows)
            yield _pd.DataFrame({"product_id": [key[0]], "n": [n]})

        def close(self):
            pass

    return P


def _noop_classic_kernel(key, pdfs, state):
    import pandas as _pd
    n = sum(len(pdf) for pdf in pdfs)
    yield _pd.DataFrame({"product_id": [key[0]], "n": [n]})


def _pass_classic_kernel(key, pdfs, state):
    for pdf in pdfs:
        yield pdf[PASS_COLS]


def _arr_classic_kernel(key, pdfs, state):
    for pdf in pdfs:
        out = pdf[PASS_COLS].copy()
        out["levels"] = [_ARR_VAL] * len(out)
        yield out


def _fixture_dir(sf_dir: str) -> str:
    """The book rows' cached frame fixture for this sf_dir (built by a
    prior mirror run; build it by running the row once if absent)."""
    src = os.path.join(sf_dir, "events.parquet")
    tag = hashlib.md5(
        f"strmsrc_rng1:bookframes2:seq:{src}:{os.path.getmtime(src)}"
        .encode()).hexdigest()[:12]
    base = os.path.join(tempfile.gettempdir(), f"fg_strmrng_{tag}")
    if not os.path.isdir(base):
        raise SystemExit(f"fixture not built for {sf_dir} — run "
                         "tools/driver_mirror.py stream_engine_book_kernel "
                         f"once at this SF first ({base})")
    return base


def _drain(q) -> None:
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def main() -> None:
    import uuid

    from fictional_guacamole_spark.operators.book import STATE_SCHEMA
    from fictional_guacamole_spark.plans.windows_streaming import (
        _rocksdb_state_store, _stream_state_partitions)

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else SF_DIR
    base = _fixture_dir(sf_dir)
    spark = get_spark("fg-tws-probe")
    schema = spark.read.parquet(base).schema
    n_rows = spark.read.parquet(base).count()

    import fictional_guacamole_spark.operators.gap_alarm as _ga
    from pyspark import cloudpickle
    cloudpickle.register_pickle_by_value(sys.modules[_ga.__name__])
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    P = _build_noop_processor()

    def stream():
        # flat projection: identical input both APIs, no nested arrays
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1").parquet(base)
                .select(*PASS_COLS))

    def timed(label, out):
        t0 = time.perf_counter()
        _drain(out.writeStream.format("noop")
               .option("checkpointLocation",
                       tempfile.mkdtemp(prefix=f"fg_probe_{label}_"))
               .queryName(f"probe_{label}_{uuid.uuid4().hex[:8]}")
               .outputMode("append").start())
        timings[label] = round(time.perf_counter() - t0, 2)

    timings: dict[str, float] = {}
    with _stream_state_partitions(spark), _rocksdb_state_store(spark):
        timed("classic_count_s", stream().groupBy("product_id")
              .applyInPandasWithState(
                  _noop_classic_kernel, outputStructType=COUNT_OUT,
                  stateStructType=STATE_SCHEMA, outputMode="append",
                  timeoutConf="NoTimeout"))
        timed("tws_count_s", stream().groupBy("product_id")
              .transformWithStateInPandas(
                  P(), outputStructType=COUNT_OUT,
                  outputMode="append", timeMode="None"))
        timed("classic_pass_s", stream().groupBy("product_id")
              .applyInPandasWithState(
                  _pass_classic_kernel, outputStructType=PASS_OUT,
                  stateStructType=STATE_SCHEMA, outputMode="append",
                  timeoutConf="NoTimeout"))
        timed("tws_pass_s", stream().groupBy("product_id")
              .transformWithStateInPandas(
                  P(passthrough=True), outputStructType=PASS_OUT,
                  outputMode="append", timeMode="None"))
        timed("classic_arr_s", stream().groupBy("product_id")
              .applyInPandasWithState(
                  _arr_classic_kernel, outputStructType=ARR_OUT,
                  stateStructType=STATE_SCHEMA, outputMode="append",
                  timeoutConf="NoTimeout"))
        timed("tws_arr_s", stream().groupBy("product_id")
              .transformWithStateInPandas(
                  P(passthrough="array"), outputStructType=ARR_OUT,
                  outputMode="append", timeMode="None"))

    print(json.dumps({"fixture": base, "rows": n_rows, **timings,
                      "count_ratio": round(timings["tws_count_s"]
                                           / timings["classic_count_s"], 3),
                      "pass_ratio": round(timings["tws_pass_s"]
                                          / timings["classic_pass_s"], 3),
                      "array_ratio": round(timings["tws_arr_s"]
                                           / timings["classic_arr_s"], 3)}))
    spark.stop()


if __name__ == "__main__":
    main()
