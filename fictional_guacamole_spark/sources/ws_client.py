"""Minimal RFC 6455 websocket client (stdlib only), ws:// and wss://.

Transport of the live source (sources/websocket.py). Implements exactly
what an exchange feed needs — client handshake, masked text/binary frames,
fragmentation reassembly, ping→pong, clean close, and TLS via the stdlib
``ssl`` module (the reference endpoints are ``wss://ws-feed.gdax.com``,
/root/reference/real_guac.py:17, and ``wss://api2.poloniex.com``,
/root/reference/polo_ws.py:17) — and nothing else (no extensions, no
compression).

``connect()`` returns an object with ``send(str)``, ``recv() -> str``,
``settimeout`` and ``close()``. A ``recv()`` that times out partway
through a frame or a fragmented message raises ``TimeoutError`` and
keeps what has arrived, so the next ``recv()`` resumes it. The
loopback integration tests (tests/test_websocket_source.py) drive THIS
client against a stdlib server fixture — including a TLS loopback with a
self-signed certificate for the wss:// path — which is what promotes the
S1/S2 source + S5 reconnect from contract-tested to integration-tested
without network access.
"""

from __future__ import annotations

import base64
import hashlib
import os
import socket
import ssl
import struct
from urllib.parse import urlparse

_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

OP_CONT, OP_TEXT, OP_BINARY = 0x0, 0x1, 0x2
OP_CLOSE, OP_PING, OP_PONG = 0x8, 0x9, 0xA


class WebSocketError(ConnectionError):
    """Handshake failure, protocol violation, or closed connection."""


class MinimalWebSocket:
    """One client-side websocket connection over a plain TCP socket."""

    def __init__(self, sock: socket.socket) -> None:
        self._sock = sock
        self._buf = b""
        # payload of a fragmented message whose final frame is still due
        self._partial: bytes | None = None

    # -- public surface ----------------------------------------------------

    def settimeout(self, timeout: float | None) -> None:
        self._sock.settimeout(timeout)

    def send(self, payload: str | bytes) -> None:
        op = OP_TEXT if isinstance(payload, str) else OP_BINARY
        data = payload.encode() if isinstance(payload, str) else payload
        self._send_frame(op, data)

    def recv(self) -> str:
        """Next text/binary message (control frames handled inline)."""
        while True:
            fin, op, payload = self._read_frame()
            if op == OP_PING:
                self._send_frame(OP_PONG, payload)
                continue
            if op == OP_PONG:
                continue
            if op == OP_CLOSE:
                try:
                    self._send_frame(OP_CLOSE, payload[:2])
                except OSError:
                    pass  # peer may already have torn the socket down
                self._sock.close()
                raise WebSocketError("connection closed by peer")
            if op == OP_CONT and self._partial is None:
                raise WebSocketError("continuation frame without start")
            if op in (OP_TEXT, OP_BINARY) and self._partial is not None:
                raise WebSocketError("new message inside fragmented message")
            message = (self._partial or b"") + payload
            if fin:
                self._partial = None
                return message.decode("utf-8", errors="replace")
            self._partial = message

    def close(self) -> None:
        try:
            self._send_frame(OP_CLOSE, struct.pack("!H", 1000))
        except OSError:
            pass
        self._sock.close()

    # -- framing -----------------------------------------------------------

    def _send_frame(self, op: int, data: bytes) -> None:
        # client→server frames MUST be masked (RFC 6455 §5.3)
        head = bytes([0x80 | op])
        n = len(data)
        if n < 126:
            head += bytes([0x80 | n])
        elif n < (1 << 16):
            head += bytes([0x80 | 126]) + struct.pack("!H", n)
        else:
            head += bytes([0x80 | 127]) + struct.pack("!Q", n)
        mask = os.urandom(4)
        masked = bytes(b ^ mask[i % 4] for i, b in enumerate(data))
        self._sock.sendall(head + mask + masked)

    def _read_frame(self) -> tuple[bool, int, bytes]:
        # bytes only ever join the buffer here, and a frame leaves it
        # whole: a timeout in sock.recv loses nothing already received
        while (frame := self._take_frame()) is None:
            chunk = self._sock.recv(65536)
            if not chunk:
                raise WebSocketError("socket closed mid-frame")
            self._buf += chunk
        return frame

    def _take_frame(self) -> tuple[bool, int, bytes] | None:
        """Pop one complete frame off the buffer, or None if it does not
        hold one yet."""
        buf = self._buf
        if len(buf) < 2:
            return None
        fin, op = bool(buf[0] & 0x80), buf[0] & 0x0F
        masked, ln = bool(buf[1] & 0x80), buf[1] & 0x7F
        ext = {126: 2, 127: 8}.get(ln, 0)
        start = 2 + ext + (4 if masked else 0)
        if len(buf) < start:
            return None
        if ext:
            (ln,) = struct.unpack("!H" if ext == 2 else "!Q", buf[2:2 + ext])
        if len(buf) < start + ln:
            return None
        payload, self._buf = buf[start:start + ln], buf[start + ln:]
        if masked:
            mask = buf[start - 4:start]
            payload = bytes(b ^ mask[i % 4] for i, b in enumerate(payload))
        return fin, op, payload


def connect(url: str, timeout: float = 5.0,
            ssl_context: ssl.SSLContext | None = None) -> MinimalWebSocket:
    """Open a ``ws://`` or ``wss://`` connection and perform the RFC 6455
    handshake. For ``wss://`` the TCP socket is wrapped with
    ``ssl_context`` (default: ``ssl.create_default_context()`` — system
    trust store + hostname verification, the right default for real
    exchange endpoints; tests pass a context trusting their self-signed
    loopback certificate)."""
    u = urlparse(url)
    if u.scheme not in ("ws", "wss"):
        raise WebSocketError(
            f"unsupported scheme {u.scheme!r} (expected ws:// or wss://)")
    use_tls = u.scheme == "wss"
    host, port = u.hostname, u.port or (443 if use_tls else 80)
    path = (u.path or "/") + (f"?{u.query}" if u.query else "")
    sock = socket.create_connection((host, port), timeout=timeout)
    if use_tls:
        ctx = ssl_context if ssl_context is not None \
            else ssl.create_default_context()
        sock = ctx.wrap_socket(sock, server_hostname=host)
    key = base64.b64encode(os.urandom(16)).decode()
    request = (
        f"GET {path} HTTP/1.1\r\n"
        f"Host: {host}:{port}\r\n"
        "Upgrade: websocket\r\n"
        "Connection: Upgrade\r\n"
        f"Sec-WebSocket-Key: {key}\r\n"
        "Sec-WebSocket-Version: 13\r\n\r\n")
    sock.sendall(request.encode())

    response = b""
    while b"\r\n\r\n" not in response:
        chunk = sock.recv(65536)
        if not chunk:
            raise WebSocketError("server closed during handshake")
        response += chunk
    head, _, rest = response.partition(b"\r\n\r\n")
    lines = head.decode("latin-1").split("\r\n")
    if " 101 " not in lines[0] + " ":
        raise WebSocketError(f"handshake rejected: {lines[0]}")
    headers = {k.strip().lower(): v.strip()
               for k, _, v in (ln.partition(":") for ln in lines[1:])}
    expect = base64.b64encode(
        hashlib.sha1((key + _WS_GUID).encode()).digest()).decode()
    if headers.get("sec-websocket-accept") != expect:
        raise WebSocketError("bad Sec-WebSocket-Accept")
    ws = MinimalWebSocket(sock)
    ws._buf = rest  # bytes past the handshake are frame data
    ws.settimeout(timeout)
    return ws
