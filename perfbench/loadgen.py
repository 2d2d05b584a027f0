"""Seeded GDAX frame generator shared by the book workloads.

``generate(seed, spec)`` builds one capture: a snapshot per product, then a
skewed mix of deep-book ``l2update`` frames, top-of-book updates, deletes and
``match`` trades, with trade-id gaps and duplicate re-deliveries planted at
fixed rates. Gaps are spaced evenly (every ``1 / gap_rate``-th trade) rather
than drawn, so every stretch of frames longer than the spacing carries one
and every micro-batch runs the backfill repair. Every frame carries a unique exchange ``sequence``; a
re-delivered frame is a byte-identical copy of an earlier one, so a
pipeline that keys its ``(product_id, seq)`` dedupe on the exchange sequence
can recognise it. The manifest of planted gaps and duplicates stays with the
benchmark; the program only ever sees the frames.

Run as a script, it serves the same frame mix over a loopback websocket on
one connection: a warm-up burst as soon as the client subscribes, then,
once told to go, open loop at ``rate`` frames/s in ticks: the frames of
tick ``j`` are due ``j * tick`` seconds after the go signal, are stamped
with that due time, and are sent together when due no matter how far the
reader has fallen behind. The socket is quiet between ticks, so a reader
that ends its batch on a quiet socket takes whatever has arrived::

    python3 loadgen.py serve --seed 1 --spec '{...}' --rate 150 --tick 1 \
        --warmup 2000 --ready <file> --go <file> --stats <file>
"""

from __future__ import annotations

import argparse
import base64
import hashlib
import json
import os
import random
import socket
import struct
import sys
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

TICK = 0.01
TOP = 15  # the kernel's emitted depth (operators.book.BOOK_DEPTH)
EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


@dataclass
class Capture:
    """Generated frames plus what was planted in them."""

    frames: list[dict]                        # in send order, dups included
    # (product_id, missing trade_id, sequence of the trade that reveals it)
    gaps: list[tuple[str, int, int]] = field(default_factory=list)
    duplicates: list[int] = field(default_factory=list)  # re-delivered seqs


def product_ids(n: int) -> list[str]:
    return [f"P{i:02d}-USD" for i in range(n)]


def _mid(index: int) -> int:
    """Mid price of product ``index`` in ticks."""
    return 10_000 + 1_000 * index


def _px(ticks: int) -> str:
    return f"{ticks * TICK:.2f}"


def fetched_trade(product: str, trade_id: int) -> dict:
    """The trade a REST backfill returns for ``trade_id``: a pure function
    of its key, so the stream and the fetcher agree without shared state."""
    h = int.from_bytes(hashlib.blake2b(f"{product}:{trade_id}".encode(),
                                       digest_size=4).digest(), "big")
    mid = _mid(int(product[1:3]))
    return {"trade_id": trade_id, "price": _px(mid + h % 11 - 5),
            "volume": f"{(h >> 8) % 1000 / 100 + 0.01:.2f}",
            "side": "buy" if h & 1 else "sell",
            "server_ts": None, "exchange_ts": None}


def fetch_trades(product: str, after_id: int) -> list[dict]:
    """In-process stand-in for the exchange's REST ``trades?after=`` page:
    the 100 trades just below ``after_id``, newest first."""
    return [fetched_trade(product, t)
            for t in range(after_id - 1, max(after_id - 101, 0), -1)]


def generate(seed: int, spec: dict) -> Capture:
    """Build the capture for ``spec`` (a workload's ``mix`` values from
    workloads.json plus ``frames``) from ``seed``."""
    rng = random.Random(seed)
    products = product_ids(spec["products"])
    hot_share = spec["hot_share"]
    depth = spec["depth"]
    n = spec["frames"]
    frames: list[dict] = []
    next_trade = {p: 1_000 + 100 * i for i, p in enumerate(products)}
    seen_trade = {p: False for p in products}
    gaps: list[tuple[str, int, int]] = []
    gap_every = round(1 / spec["gap_rate"])
    since_gap = 0

    for i, p in enumerate(products):
        mid = _mid(i)
        frames.append({
            "type": "snapshot", "product_id": p,
            "bids": [[_px(mid - k), f"{rng.randint(1, 500) / 100:.2f}"]
                     for k in range(1, depth + 1)],
            "asks": [[_px(mid + k), f"{rng.randint(1, 500) / 100:.2f}"]
                     for k in range(1, depth + 1)]})

    while len(frames) < n:
        if rng.random() < hot_share:
            i = 0
        else:
            i = rng.randrange(1, len(products))
        p, mid = products[i], _mid(i)
        if rng.random() < spec["trade_share"]:
            tid = next_trade[p]
            since_gap += 1
            # a product's first trade cannot reveal a gap: plant on the next
            if seen_trade[p] and since_gap >= gap_every:
                since_gap = 0
                skipped = rng.randint(1, 3)
                gaps.extend((p, tid + k, len(frames)) for k in range(skipped))
                tid += skipped
            seen_trade[p] = True
            next_trade[p] = tid + 1
            t = fetched_trade(p, tid)
            frames.append({"type": "match", "product_id": p,
                           "trade_id": tid, "price": t["price"],
                           "size": t["volume"], "side": t["side"]})
            continue
        changes = []
        for _ in range(rng.randint(1, 3)):
            side = "buy" if rng.random() < 0.5 else "sell"
            if rng.random() < spec["top_share"]:
                k = rng.randint(1, TOP)
            else:
                k = rng.randint(TOP + 1, depth + 10)
            price = _px(mid - k if side == "buy" else mid + k)
            vol = ("0" if rng.random() < spec["delete_share"]
                   else f"{rng.randint(1, 900) / 100:.2f}")
            changes.append([side, price, vol])
        frames.append({"type": "l2update", "product_id": p,
                       "changes": changes})

    for s, f in enumerate(frames):
        f["sequence"] = s
        f["time"] = stamp(EPOCH + timedelta(milliseconds=s))

    # re-deliveries: a copy of an earlier frame, a few frames later; the
    # capture is cut to exactly ``n`` frames, so re-deliveries push the
    # newest originals (and any gap they close) off the end
    out: list[dict] = []
    pending: dict[int, list[dict]] = {}
    for s, f in enumerate(frames):
        out.append(f)
        out.extend(pending.pop(s, ()))
        if s >= len(products) and rng.random() < spec["dup_rate"]:
            at = min(s + rng.randint(1, 200), len(frames) - 1)
            pending.setdefault(at, []).append(f)
    out = out[:n]
    kept = {f["sequence"] for f in out}
    seen: set[int] = set()
    duplicates = []
    for f in out:
        if f["sequence"] in seen:
            duplicates.append(f["sequence"])
        seen.add(f["sequence"])
    return Capture(out, [g for g in gaps if g[2] in kept], duplicates)


def stamp(ts: datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def encode(frame: dict) -> str:
    return json.dumps(frame, separators=(",", ":"))


def write_capture(path: str, capture: Capture) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        for f in capture.frames:
            fh.write(encode(f))
            fh.write("\n")


# ---------------------------------------------------------------------------
# open-loop websocket server
# ---------------------------------------------------------------------------

_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"


def _handshake(sock: socket.socket) -> bytes:
    buf = b""
    while b"\r\n\r\n" not in buf:
        chunk = sock.recv(65536)
        if not chunk:
            raise ConnectionError("client left during handshake")
        buf += chunk
    head, _, rest = buf.partition(b"\r\n\r\n")
    key = ""
    for line in head.decode("latin-1").split("\r\n")[1:]:
        k, _, v = line.partition(":")
        if k.strip().lower() == "sec-websocket-key":
            key = v.strip()
    accept = base64.b64encode(
        hashlib.sha1((key + _WS_GUID).encode()).digest()).decode()
    sock.sendall(("HTTP/1.1 101 Switching Protocols\r\n"
                  "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                  f"Sec-WebSocket-Accept: {accept}\r\n\r\n").encode())
    return rest


def _read_client_frame(sock: socket.socket, buf: bytes) -> tuple[bytes, bytes]:
    """One masked client frame → (payload, leftover bytes)."""
    def need(n: int) -> None:
        nonlocal buf
        while len(buf) < n:
            chunk = sock.recv(65536)
            if not chunk:
                raise ConnectionError("client went away")
            buf += chunk

    need(2)
    ln = buf[1] & 0x7F
    pos = 2
    if ln == 126:
        need(4)
        (ln,) = struct.unpack("!H", buf[2:4])
        pos = 4
    elif ln == 127:
        need(10)
        (ln,) = struct.unpack("!Q", buf[2:10])
        pos = 10
    need(pos + 4 + ln)
    mask = buf[pos:pos + 4]
    data = bytes(b ^ mask[i % 4]
                 for i, b in enumerate(buf[pos + 4:pos + 4 + ln]))
    return data, buf[pos + 4 + ln:]


def _text_frame(data: bytes) -> bytes:
    n = len(data)
    if n < 126:
        head = bytes([0x81, n])
    elif n < (1 << 16):
        head = bytes([0x81, 126]) + struct.pack("!H", n)
    else:
        head = bytes([0x81, 127]) + struct.pack("!Q", n)
    return head + data


def serve(seed: int, spec: dict, rate: float, tick: float, warmup: int,
          ready_path: str, go_path: str, stats_path: str,
          timeout_s: float = 300.0) -> None:
    """Serve ``generate(seed, spec)`` once over one connection.

    Writes the bound port to ``ready_path``. After the client subscribes,
    the first ``warmup`` frames go out at once; once ``go_path`` exists the
    rest follow open loop at ``rate`` frames/s, ``rate * tick`` frames every
    ``tick`` seconds. When every frame is sent,
    ``{"start": t0, "due": [...], "late_s": [...], "sent": [...]}`` goes to
    ``stats_path``: when the schedule began, each scheduled frame's due
    time, how late its send ran, and each frame's text in send order. Every
    frame is stamped with its due time (the burst with its send time); a
    re-delivered frame is resent with its original's stamp, as a real
    duplicate is."""
    capture = generate(seed, spec)
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    srv.settimeout(timeout_s)
    with open(ready_path + ".tmp", "w") as fh:
        fh.write(str(srv.getsockname()[1]))
    os.replace(ready_path + ".tmp", ready_path)
    sock, _ = srv.accept()
    srv.close()
    sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
    sent: list[str] = []
    by_seq: dict[int, str] = {}

    def send(f: dict, due: float) -> None:
        s = f["sequence"]
        if s not in by_seq:
            by_seq[s] = encode(dict(f, time=stamp(
                datetime.fromtimestamp(due, tz=timezone.utc))))
        sent.append(by_seq[s])
        sock.sendall(_text_frame(by_seq[s].encode()))

    try:
        _read_client_frame(sock, _handshake(sock))  # the subscribe packet
        burst = time.time()
        for f in capture.frames[:warmup]:
            send(f, burst)
        deadline = time.time() + timeout_s
        while not os.path.exists(go_path):
            if time.time() > deadline:
                raise TimeoutError("no go signal")
            time.sleep(0.005)
        t0 = time.time()
        per_tick = rate * tick
        due_s: list[float] = []
        late: list[float] = []
        for k, f in enumerate(capture.frames[warmup:]):
            due = t0 + int(k / per_tick) * tick
            due_s.append(due)
            now = time.time()
            if due > now:
                time.sleep(due - now)
                now = time.time()
            late.append(now - due)
            send(f, due)
        with open(stats_path + ".tmp", "w") as fh:
            json.dump({"start": t0, "due": due_s, "late_s": late,
                       "sent": sent}, fh)
        os.replace(stats_path + ".tmp", stats_path)
        # hold the connection open until the reader closes it
        sock.settimeout(1.0)
        while time.time() < deadline:
            try:
                if not sock.recv(65536):
                    break
            except socket.timeout:
                continue
            except OSError:
                break
    finally:
        sock.close()


def main(argv: list[str]) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--spec", required=True, help="workload spec as JSON")
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--tick", type=float, required=True,
                    help="seconds between the scheduled sends")
    ap.add_argument("--warmup", type=int, default=0,
                    help="frames sent at once before the schedule starts")
    ap.add_argument("--ready", required=True)
    ap.add_argument("--go", required=True)
    ap.add_argument("--stats", required=True)
    a = ap.parse_args(argv)
    serve(a.seed, json.loads(a.spec), a.rate, a.tick, a.warmup, a.ready,
          a.go, a.stats)


if __name__ == "__main__":
    main(sys.argv[1:])
