"""Loopback integration tests for the live websocket source (S1/S2/S5).

A stdlib RFC 6455 server runs on 127.0.0.1; the source's vendored minimal
client (sources/ws_client.py) performs a real handshake, sends the real
exchange subscribe packet, and receives real masked frames over TCP —
promoting the websocket source from contract-tested (via the replay
reader's shared base class) to integration-tested, with no network or
third-party packages.

Server-side framing is implemented independently here (not by importing
the client's helpers) so the two sides genuinely test each other.
"""

from __future__ import annotations

import base64
import hashlib
import json
import socket
import struct
import threading
import time

import pytest

from fictional_guacamole_spark.sources.ws_client import (
    OP_CLOSE, OP_PING, OP_TEXT, WebSocketError, connect)

_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"


# --------------------------------------------------------------------------
# stdlib loopback server fixture
# --------------------------------------------------------------------------

class _ServerConn:
    """Server side of one connection: buffered reads (recv can overshoot a
    frame boundary), independent framing implementation so the client and
    server genuinely test each other."""

    def __init__(self, sock: socket.socket) -> None:
        self.sock = sock
        self.buf = b""

    def read_exact(self, n: int) -> bytes:
        while len(self.buf) < n:
            chunk = self.sock.recv(65536)
            if not chunk:
                raise ConnectionError("client went away")
            self.buf += chunk
        out, self.buf = self.buf[:n], self.buf[n:]
        return out

    def read_client_frame(self) -> tuple[int, bytes]:
        b0, b1 = self.read_exact(2)
        op = b0 & 0x0F
        masked, ln = bool(b1 & 0x80), b1 & 0x7F
        if ln == 126:
            (ln,) = struct.unpack("!H", self.read_exact(2))
        elif ln == 127:
            (ln,) = struct.unpack("!Q", self.read_exact(8))
        assert masked, "RFC 6455 violation: client frame not masked"
        mask = self.read_exact(4)
        payload = bytes(b ^ mask[i % 4]
                        for i, b in enumerate(self.read_exact(ln)))
        return op, payload

    def send_frame(self, op: int, data: bytes) -> None:
        head = bytes([0x80 | op])
        n = len(data)
        if n < 126:
            head += bytes([n])
        elif n < (1 << 16):
            head += bytes([126]) + struct.pack("!H", n)
        else:
            head += bytes([127]) + struct.pack("!Q", n)
        self.sock.sendall(head + data)  # server→client frames are unmasked

    def send_fragmented_text(self, text: str) -> None:
        data = text.encode()
        half = len(data) // 2
        self._send_raw(0x01, data[:half], fin=False)
        self._send_raw(0x00, data[half:], fin=True)

    def _send_raw(self, op: int, data: bytes, fin: bool) -> None:
        head = bytes([(0x80 if fin else 0) | op, len(data)])
        self.sock.sendall(head + data)

    def handshake(self) -> None:
        while b"\r\n\r\n" not in self.buf:
            chunk = self.sock.recv(65536)
            if not chunk:
                raise ConnectionError("client left during handshake")
            self.buf += chunk
        head, _, rest = self.buf.partition(b"\r\n\r\n")
        self.buf = rest  # bytes past the handshake are frame data
        headers = {}
        for line in head.decode("latin-1").split("\r\n")[1:]:
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        accept = base64.b64encode(hashlib.sha1(
            (headers["sec-websocket-key"] + _WS_GUID).encode()
        ).digest()).decode()
        self.sock.sendall((
            "HTTP/1.1 101 Switching Protocols\r\n"
            "Upgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Accept: {accept}\r\n\r\n").encode())

class LoopbackWsServer:
    """Accepts websocket connections, records what clients send, and plays
    a per-connection script of server frames."""

    def __init__(self, script, ssl_context=None):
        # script(conn_index) -> list of actions:
        #   ("text", str) | ("ping", bytes) | ("close",) | ("fragmented", str)
        #   | ("raw", bytes) | ("sleep", seconds)
        self.script = script
        self.ssl_context = ssl_context       # server-side TLS for wss://
        self.received: list[list[str]] = []   # per-connection client texts
        self.connections = 0
        self._srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._srv.bind(("127.0.0.1", 0))
        self._srv.listen(8)
        self.port = self._srv.getsockname()[1]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._serve, daemon=True)
        self._thread.start()

    # -- lifecycle ----------------------------------------------------------

    def _serve(self) -> None:
        while not self._stop.is_set():
            try:
                self._srv.settimeout(0.2)
                sock, _ = self._srv.accept()
            except socket.timeout:
                continue
            except OSError:
                return
            conn_idx = self.connections
            self.connections += 1
            self.received.append([])
            threading.Thread(target=self._handle,
                             args=(sock, conn_idx), daemon=True).start()

    def _handle(self, sock, conn_idx: int) -> None:
        try:
            if self.ssl_context is not None:
                sock.settimeout(2.0)
                sock = self.ssl_context.wrap_socket(sock, server_side=True)
        except (OSError, ConnectionError):
            sock.close()   # client rejected our cert (untrusted-cert test)
            return
        conn = _ServerConn(sock)
        try:
            conn.handshake()
            # drain the subscribe packet(s) the client sends on connect
            sock.settimeout(1.0)
            try:
                while len(self.received[conn_idx]) < self.expect_subscribes:
                    op, payload = conn.read_client_frame()
                    if op == OP_TEXT:
                        self.received[conn_idx].append(payload.decode())
            except socket.timeout:
                pass
            for action in self.script(conn_idx):
                if action[0] == "text":
                    conn.send_frame(OP_TEXT, action[1].encode())
                elif action[0] == "fragmented":
                    conn.send_fragmented_text(action[1])
                elif action[0] == "raw":
                    sock.sendall(action[1])
                elif action[0] == "sleep":
                    time.sleep(action[1])
                elif action[0] == "ping":
                    conn.send_frame(OP_PING, action[1])
                    # the client must answer with a pong carrying the payload
                    op, payload = conn.read_client_frame()
                    self.pongs.append((op, payload))
                elif action[0] == "close":
                    conn.send_frame(OP_CLOSE, struct.pack("!H", 1000))
                    return
            # keep the socket open until the client closes or test ends
            sock.settimeout(0.2)
            while not self._stop.is_set():
                try:
                    op, payload = conn.read_client_frame()
                except socket.timeout:
                    continue
                if op == OP_CLOSE:
                    return
                if op == OP_TEXT:
                    self.received[conn_idx].append(payload.decode())
        except (ConnectionError, OSError, AssertionError):
            pass
        finally:
            sock.close()

    expect_subscribes = 1
    pongs: list = []

    def stop(self) -> None:
        self._stop.set()
        self._srv.close()
        self._thread.join(timeout=2)


@pytest.fixture
def ws_server():
    servers = []

    def make(script, expect_subscribes=1, ssl_context=None):
        srv = LoopbackWsServer(script, ssl_context=ssl_context)
        srv.expect_subscribes = expect_subscribes
        srv.pongs = []
        servers.append(srv)
        return srv

    yield make
    for s in servers:
        s.stop()


@pytest.fixture(scope="module")
def tls_material(tmp_path_factory):
    """Self-signed loopback certificate + keyed server context for the
    wss:// tests. stdlib ``ssl`` cannot mint certificates, so the cert
    comes from the openssl CLI; the whole TLS surface skips cleanly on a
    host without it."""
    import shutil
    import ssl
    import subprocess

    if shutil.which("openssl") is None:
        pytest.skip("openssl CLI unavailable; cannot mint loopback cert")
    d = tmp_path_factory.mktemp("tls")
    key, cert = d / "key.pem", d / "cert.pem"
    subprocess.run(
        ["openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
         "-keyout", str(key), "-out", str(cert), "-days", "2",
         "-subj", "/CN=127.0.0.1",
         "-addext", "subjectAltName=IP:127.0.0.1"],
        check=True, capture_output=True)
    server_ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    server_ctx.load_cert_chain(str(cert), str(key))
    return server_ctx, str(cert)


# --------------------------------------------------------------------------
# client unit tests
# --------------------------------------------------------------------------

class TestMinimalClient:
    def test_handshake_send_recv_roundtrip(self, ws_server):
        srv = ws_server(lambda i: [("text", "hello"), ("text", "world")])
        ws = connect(f"ws://127.0.0.1:{srv.port}/feed", timeout=2.0)
        ws.send("subscribe-me")
        assert ws.recv() == "hello"
        assert ws.recv() == "world"
        ws.close()
        assert srv.received[0] == ["subscribe-me"]

    @pytest.mark.parametrize("size", [0, 1, 125, 126, 127, 65535, 65536,
                                      70000])
    def test_frame_length_boundaries(self, ws_server, size):
        # exercises all three RFC 6455 length encodings (7-bit, 16-bit,
        # 64-bit) on exact boundary values, both directions
        payload = "x" * size
        srv = ws_server(lambda i: [("text", payload)])
        ws = connect(f"ws://127.0.0.1:{srv.port}/", timeout=2.0)
        ws.send(payload or "s")  # client→server masked path at same size
        assert ws.recv() == payload
        ws.close()

    def test_fragmented_message_reassembled(self, ws_server):
        srv = ws_server(lambda i: [("fragmented", "split-in-two")])
        ws = connect(f"ws://127.0.0.1:{srv.port}/", timeout=2.0)
        ws.send("s")
        assert ws.recv() == "split-in-two"
        ws.close()

    @pytest.mark.parametrize("before, after", [
        # a lone frame header, then its payload
        (bytes([0x81, 5]), b"hello"),
        # a whole first fragment plus the header of the last one
        (bytes([0x01, 3]) + b"hel" + bytes([0x80, 2]), b"lo"),
    ], ids=["mid_frame", "mid_message"])
    def test_timeout_mid_message_resumes(self, ws_server, before, after):
        srv = ws_server(lambda i: [("raw", before), ("sleep", 1.0),
                                   ("raw", after)])
        ws = connect(f"ws://127.0.0.1:{srv.port}/", timeout=0.3)
        ws.send("s")
        with pytest.raises(TimeoutError):
            ws.recv()
        ws.settimeout(3.0)
        assert ws.recv() == "hello"
        ws.close()

    def test_ping_answered_with_pong(self, ws_server):
        srv = ws_server(lambda i: [("ping", b"keepalive"), ("text", "after")])
        ws = connect(f"ws://127.0.0.1:{srv.port}/", timeout=2.0)
        ws.send("s")
        # ping is transparent to recv(); the pong must echo the payload
        assert ws.recv() == "after"
        assert srv.pongs and srv.pongs[0][1] == b"keepalive"
        ws.close()

    def test_server_close_raises(self, ws_server):
        srv = ws_server(lambda i: [("text", "bye"), ("close",)])
        ws = connect(f"ws://127.0.0.1:{srv.port}/", timeout=2.0)
        ws.send("s")
        assert ws.recv() == "bye"
        with pytest.raises(WebSocketError):
            ws.recv()


# --------------------------------------------------------------------------
# Spark streaming integration (S1/S2 subscribe + S5 reconnect)
# --------------------------------------------------------------------------

def _frames(product: str, n: int, start: int = 0):
    return [("text", json.dumps({
        "type": "l2update", "product_id": product,
        "changes": [["buy", "100.0", "1.0"]], "seq": start + i}))
        for i in range(n)]


class TestTlsTransport:
    """wss:// over the vendored client: real TLS handshake against a
    loopback server with a self-signed certificate, plus the
    trust-verification failure path."""

    def test_wss_handshake_and_roundtrip(self, ws_server, tls_material):
        import ssl

        server_ctx, cafile = tls_material
        srv = ws_server(lambda i: [("text", "enc-hello")],
                        ssl_context=server_ctx)
        client_ctx = ssl.create_default_context(cafile=cafile)
        ws = connect(f"wss://127.0.0.1:{srv.port}/feed", timeout=3.0,
                     ssl_context=client_ctx)
        ws.send("over-tls")
        assert ws.recv() == "enc-hello"
        ws.close()
        assert srv.received[0] == ["over-tls"]

    def test_wss_fragmented_and_ping_over_tls(self, ws_server, tls_material):
        import ssl

        server_ctx, cafile = tls_material
        srv = ws_server(
            lambda i: [("ping", b"k"), ("fragmented", "tls-split")],
            expect_subscribes=0, ssl_context=server_ctx)
        client_ctx = ssl.create_default_context(cafile=cafile)
        ws = connect(f"wss://127.0.0.1:{srv.port}/", timeout=3.0,
                     ssl_context=client_ctx)
        assert ws.recv() == "tls-split"      # pong answered inline first
        assert srv.pongs and srv.pongs[0][1] == b"k"
        ws.close()

    def test_wss_untrusted_cert_rejected(self, ws_server, tls_material):
        import ssl

        server_ctx, _ = tls_material
        srv = ws_server(lambda i: [], ssl_context=server_ctx)
        # default trust store does NOT contain the loopback CA: the
        # connection must fail verification, not silently downgrade
        with pytest.raises(ssl.SSLError):
            connect(f"wss://127.0.0.1:{srv.port}/", timeout=3.0)

    def test_non_ws_scheme_rejected(self):
        with pytest.raises(WebSocketError):
            connect("https://example.invalid/")


class TestWebsocketSparkSource:
    def test_gdax_stream_end_to_end(self, spark, ws_server, tmp_path):
        """Full path: readStream over the websocket DataSource → memory
        sink. One GDAX subscribe packet (level2+matches) must arrive at
        the server; every server frame must land in the sink exactly once
        and in arrival order."""
        from fictional_guacamole_spark.sources.websocket import register

        srv = ws_server(lambda i: _frames("BTC-USD", 25) if i == 0 else [])
        register(spark)
        stream = (spark.readStream.format("exchange_ws")
                  .option("url", f"ws://127.0.0.1:{srv.port}/feed")
                  .option("exchange", "gdax")
                  .option("products", json.dumps(["BTC-USD"]))
                  .option("framesPerBatch", "10")
                  .option("recvTimeout", "0.5")
                  .load())
        q = (stream.writeStream.format("memory").queryName("ws_gdax")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(processingTime="0 seconds").start())
        try:
            deadline = 30
            import time
            while spark.table("ws_gdax").count() < 25 and deadline > 0:
                time.sleep(0.5)
                deadline -= 0.5
        finally:
            q.stop()
        rows = spark.table("ws_gdax").orderBy("seq").collect()
        assert len(rows) == 25
        assert [r["seq"] for r in rows] == list(range(25))
        assert [json.loads(r["value"])["seq"] for r in rows] == list(range(25))
        # the subscribe packet matches the reference's contract
        sub = json.loads(srv.received[0][0])
        assert sub == {"type": "subscribe", "product_ids": ["BTC-USD"],
                       "channels": ["level2", "matches"]}
        # a quiet socket must NOT trigger reconnects (timeouts keep the
        # connection; only errors/closes drop it)
        assert srv.connections == 1

    def test_polo_sends_one_subscribe_per_pair(self, spark, ws_server):
        from fictional_guacamole_spark.sources.websocket import (
            SUBSCRIBE_BUILDERS, WebsocketStreamReader)

        srv = ws_server(lambda i: _frames("X", 3), expect_subscribes=2)
        reader = WebsocketStreamReader({
            "url": f"ws://127.0.0.1:{srv.port}/",
            "exchange": "polo",
            "products": json.dumps(["USDT_BTC", "USDT_ETH"]),
            "framesPerBatch": "3", "recvTimeout": "0.5"})
        rows, end = reader.read({"frame": 0})
        assert len(list(rows)) == 3 and end == {"frame": 3}
        expected = SUBSCRIBE_BUILDERS["polo"](["USDT_BTC", "USDT_ETH"])
        assert srv.received[0] == expected

    def test_wss_reader_end_to_end(self, ws_server, tls_material):
        """S1 over TLS: the reader connects wss://, trusts the loopback CA
        via the tlsCafile option, subscribes, and drains frames — the
        reference's actual transport (wss://ws-feed.gdax.com)."""
        from fictional_guacamole_spark.sources.websocket import (
            WebsocketStreamReader)

        server_ctx, cafile = tls_material
        srv = ws_server(lambda i: _frames("BTC-USD", 4),
                        ssl_context=server_ctx)
        reader = WebsocketStreamReader({
            "url": f"wss://127.0.0.1:{srv.port}/",
            "exchange": "gdax", "products": json.dumps(["BTC-USD"]),
            "framesPerBatch": "4", "recvTimeout": "0.5",
            "tlsCafile": cafile})
        rows, end = reader.read({"frame": 0})
        assert len(list(rows)) == 4 and end == {"frame": 4}
        sub = json.loads(srv.received[0][0])
        assert sub["type"] == "subscribe"

    def test_reconnect_after_server_drop(self, spark, ws_server):
        """S5: the server drops the connection after 5 frames; the next
        read() reconnects (a NEW connection with a NEW subscribe) and
        frames keep flowing with continuous offsets."""
        from fictional_guacamole_spark.sources.websocket import (
            WebsocketStreamReader)

        def script(conn_idx):
            if conn_idx == 0:
                return _frames("BTC-USD", 5) + [("close",)]
            return _frames("BTC-USD", 7, start=5)

        srv = ws_server(script)
        reader = WebsocketStreamReader({
            "url": f"ws://127.0.0.1:{srv.port}/",
            "exchange": "gdax", "products": json.dumps(["BTC-USD"]),
            "framesPerBatch": "100", "recvTimeout": "0.5"})
        first, end1 = reader.read({"frame": 0})
        first = list(first)
        assert len(first) == 5 and end1 == {"frame": 5}
        # connection was dropped → reader reconnects on the next batch
        second, end2 = reader.read(end1)
        second = list(second)
        assert len(second) == 7 and end2 == {"frame": 12}
        assert srv.connections == 2
        # offsets are continuous across the reconnect
        seqs = [s for s, _ in first + second]
        assert seqs == list(range(12))
