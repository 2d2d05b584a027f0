"""Live websocket streaming source (SURVEY.md §2.1 S1/S2/S5).

A Spark 4 Python DataSource that connects to an exchange websocket,
sends the subscribe packet(s), and emits raw JSON text frames with an
arrival-order ``seq`` — the live-mode counterpart of the file-replay
source (sources/replay.py), sharing its schema so the parse → kernel
pipeline is source-agnostic.

The reference's connection behavior being reproduced:
- subscribe packet per exchange: GDAX one packet with channels
  ``["level2", "matches"]`` (/root/reference/real_guac_async.py:138-145);
  Poloniex one packet per pair (/root/reference/polo_ws_async.py:151-155).
- reconnect-on-error with backoff (S5, real_guac_async.py:43-57): here the
  read() call reconnects and continues; Spark's offset contract makes the
  restart safe (frames are only committed once read returns).

Transport: the vendored minimal RFC 6455 client (sources/ws_client.py),
stdlib only, speaking ``ws://`` and ``wss://`` (TLS via stdlib ``ssl``),
so the source is live-testable without third-party packages. The full
path (handshake → subscribe packet → frames → Spark micro-batches →
reconnect) runs against a loopback server in
tests/test_websocket_source.py, including a TLS loopback with a
self-signed certificate; the replay reader additionally exercises the
shared offset/restart contract.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import StructType

from fictional_guacamole_spark.sources.pyds import _register_by_value

WS_SCHEMA = "seq long, value string"

SUBSCRIBE_BUILDERS = {
    # real_guac.py:142-146 contract
    "gdax": lambda products: [json.dumps({
        "type": "subscribe", "product_ids": products,
        "channels": ["level2", "matches"]})],
    # polo_ws.py:121-128: one subscribe per pair
    "polo": lambda products: [json.dumps({
        "command": "subscribe", "channel": p}) for p in products],
}


class WebsocketStreamReader(SimpleDataSourceStreamReader):
    """Arrival-ordered reader over one websocket connection.

    Offsets count frames received; on restart the connection is fresh (a
    websocket has no server-side replay), matching the reference's
    semantics where a reconnect implies a new book snapshot. Gap detection
    (T5) + backfill (T6) repair trade continuity across reconnects — this
    is exactly why the reference tracks trade-id watermarks.
    """

    def __init__(self, options: dict) -> None:
        self.url = options["url"]
        self.exchange = options.get("exchange", "gdax")
        self.products = json.loads(options.get("products", "[]"))
        self.max_frames_per_batch = int(options.get("framesPerBatch", "1000"))
        self.recv_timeout_s = float(options.get("recvTimeout", "1.0"))
        # wss:// trust: default is the system store (right for real
        # exchange endpoints); tlsCafile points at a CA bundle for private
        # deployments — and for the self-signed loopback TLS test
        self.tls_cafile = options.get("tlsCafile")
        self._ws = None
        self._seq = 0

    def _ssl_context(self):
        if self.tls_cafile:
            import ssl
            return ssl.create_default_context(cafile=self.tls_cafile)
        return None  # connect() falls back to the system default context

    def _connect(self):
        from fictional_guacamole_spark.sources.ws_client import connect
        ws = connect(self.url, timeout=self.recv_timeout_s,
                     ssl_context=self._ssl_context())
        for packet in SUBSCRIBE_BUILDERS[self.exchange](self.products):
            ws.send(packet)
        return ws

    def initialOffset(self) -> dict:
        return {"frame": 0}

    def read(self, start: dict) -> tuple:
        if self._ws is None:
            self._ws = self._connect()
        rows = []
        base = start["frame"]
        while len(rows) < self.max_frames_per_batch:
            try:
                frame = self._ws.recv()
            except TimeoutError:
                # quiet socket (no traffic inside recvTimeout): end the
                # micro-batch but KEEP the connection — a slow market
                # must not become a reconnect storm
                break
            except Exception:
                # S5 reconnect path: drop the connection; the next micro-
                # batch reconnects (fresh snapshot; T5/T6 repair trades).
                self._ws = None
                break
            if frame:
                rows.append((base + len(rows), frame))
        end = {"frame": base + len(rows)}
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict) -> iter:
        # Websockets cannot replay; uncommitted frames of a failed batch
        # are lost to the socket. The book re-seeds via snapshot and the
        # gap/backfill path restores trades — at-least-once end-to-end.
        return iter([])


class WebsocketDataSource(DataSource):
    """``spark.readStream.format("exchange_ws").option("url", ...)``."""

    @classmethod
    def name(cls) -> str:
        return "exchange_ws"

    def schema(self) -> str:
        return WS_SCHEMA

    def simpleStreamReader(self, schema: StructType) -> WebsocketStreamReader:
        return WebsocketStreamReader(self.options)


def register(spark: SparkSession) -> None:
    _register_by_value(spark, WebsocketDataSource)
