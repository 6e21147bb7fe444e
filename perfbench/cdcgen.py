"""Seeded CDC change stream and the stand-in MaxScale server that sends it.

The stream is one table's change log in the MaxScale wire format: one
DDL (schema) event, then inserts, updates (an update_before and an
update_after line sharing a GTID) and deletes over a bounded key space.
`ChangeStream` keeps the latest state it implies, which is what the
consumer's sink must hold once it has applied the stream.

Run as a script this module is the server: a separate process that
speaks the CDC handshake (auth, REGISTER, REQUEST-DATA) on a localhost
port and then sends the backlog, so the consumer under test and the load
generator never share an interpreter lock.

    python cdcgen.py backlog <seed> <events> <keys>

serves the changes that follow the fill of `<keys>` keys (the fill
itself is what the consumer's sink already holds) whole to every
client.  The first stdout line is the port; every later line is a JSON
report.
"""

from __future__ import annotations

import hashlib
import json
import random
import socket
import sys
import time

DB, TABLE = "bench", "orders_cdc"
USER, PASSWORD = "bench", "bench-pw"
PAYLOAD = [("pk", "bigint"), ("val", "bigint")]
# values stay below 10**6 so the state digest's sums fit a signed long
VAL_RANGE = 1_000_000
DELETE_SHARE = 0.2

_DML = (
    '{"domain": 0, "server_id": 1, "sequence": %d, "event_number": %d, '
    '"timestamp": 0, "event_type": "%s", "table_name": "' + TABLE + '", '
    '"table_schema": "' + DB + '", "pk": %d, "val": %d}'
)


def ddl_line() -> str:
    envelope = [
        {"name": "domain", "type": "int"},
        {"name": "server_id", "type": "int"},
        {"name": "sequence", "type": "int"},
        {"name": "event_number", "type": "int"},
        {"name": "timestamp", "type": "int"},
        {"name": "event_type", "type": {
            "type": "enum", "name": "EVENT_TYPES",
            "symbols": ["insert", "update_before", "update_after", "delete"],
        }},
    ]
    payload = [
        {"name": n, "type": ["null", t], "real_type": t, "length": -1}
        for n, t in PAYLOAD
    ]
    return json.dumps({
        "namespace": "MaxScaleChangeDataSchema.avro", "type": "record",
        "name": "ChangeRecord", "table": TABLE, "database": DB,
        "version": 1, "gtid": "0-1-0", "fields": envelope + payload,
    })


class ChangeStream:
    """Seeded change events over keys [0, n_keys).  Each event is a tuple
    (sequence, event_number, event_type, pk, val); `live` is the latest
    state (pk -> val) after every event produced so far."""

    def __init__(self, seed: int, n_keys: int) -> None:
        self.rng = random.Random(seed)
        self.n_keys = n_keys
        self.live: dict[int, int] = {}
        self.seq = 0

    def fill(self) -> list[tuple]:
        """Insert every key not yet live, in key order."""
        out = []
        for pk in range(self.n_keys):
            if pk not in self.live:
                self.seq += 1
                val = self.rng.randrange(VAL_RANGE)
                self.live[pk] = val
                out.append((self.seq, 1, "insert", pk, val))
        return out

    def touch(self, pks) -> list[tuple]:
        """One change to each key of `pks`: an update, or an insert if the
        key is not live."""
        out = []
        for pk in pks:
            self.seq += 1
            val = self.rng.randrange(VAL_RANGE)
            old = self.live.get(pk)
            self.live[pk] = val
            if old is None:
                out.append((self.seq, 1, "insert", pk, val))
            else:
                out.append((self.seq, 1, "update_before", pk, old))
                out.append((self.seq, 2, "update_after", pk, val))
        return out

    def changes(self, n_events: int) -> list[tuple]:
        """At least `n_events` events; an update is two events."""
        rng, live, out = self.rng, self.live, []
        while len(out) < n_events:
            self.seq += 1
            pk = rng.randrange(self.n_keys)
            val = rng.randrange(VAL_RANGE)
            old = live.get(pk)
            if old is None:
                live[pk] = val
                out.append((self.seq, 1, "insert", pk, val))
            elif rng.random() < DELETE_SHARE:
                del live[pk]
                out.append((self.seq, 1, "delete", pk, old))
            else:
                live[pk] = val
                out.append((self.seq, 1, "update_before", pk, old))
                out.append((self.seq, 2, "update_after", pk, val))
        return out


def render(ev: tuple) -> str:
    return _DML % ev


def digest(live: dict[int, int]) -> tuple[int, int, int]:
    """Order-independent digest of a latest-state table: live-key count
    and two weighted sums (the sink side computes the same in Spark)."""
    s1 = s2 = 0
    for pk, val in live.items():
        s1 += pk * 1_000_003 + val
        s2 += val * (pk % 997)
    return len(live), s1, s2


# -- server side of the CDC protocol -------------------------------------


def _auth_token() -> bytes:
    sha = hashlib.sha1(PASSWORD.encode()).digest()
    return (USER.encode() + b":" + sha).hex().encode()


def _recv_until(conn: socket.socket, done) -> bytes:
    buf = b""
    conn.settimeout(10.0)
    while not done(buf):
        chunk = conn.recv(4096)
        if not chunk:
            raise ConnectionError("client closed during handshake")
        buf += chunk
    return buf


def handshake(conn: socket.socket) -> None:
    token = _auth_token()
    if _recv_until(conn, lambda b: len(b) >= len(token)) != token:
        conn.sendall(b"ERR access denied\n")
        raise ConnectionError("bad credentials")
    conn.sendall(b"OK\n")
    reg = _recv_until(conn, lambda b: b"TYPE=JSON" in b)
    if not reg.startswith(b"REGISTER UUID="):
        conn.sendall(b"ERR malformed REGISTER\n")
        raise ConnectionError("bad REGISTER")
    conn.sendall(b"OK\n")
    # REQUEST-DATA has no terminator; this server serves one table, so
    # the command is complete once it names it
    want = f"REQUEST-DATA {DB}.{TABLE}".encode()
    if _recv_until(conn, lambda b: len(b) >= len(want)) != want:
        conn.sendall(b"ERR no such table\n")
        raise ConnectionError("bad REQUEST-DATA")
    conn.settimeout(None)


def _report(obj: dict) -> None:
    sys.stdout.write(json.dumps(obj) + "\n")
    sys.stdout.flush()


def backlog_bytes(seed: int, n_events: int, n_keys: int) -> bytes:
    """The backlog as the server sends it: DDL first, then the changes
    that follow the fill."""
    stream = ChangeStream(seed, n_keys)
    stream.fill()
    events = stream.changes(n_events)
    return ("\n".join([ddl_line()] + [render(ev) for ev in events]) + "\n").encode()


def serve_backlog(srv: socket.socket, data: bytes) -> None:
    """Send the whole backlog to each client, then close.  Reports, per
    connection, when each chunk left: [lines sent so far, time_ns]."""
    chunk = 1 << 18
    while True:
        conn, _ = srv.accept()
        with conn:
            handshake(conn)
            sends, lines = [], 0
            for off in range(0, len(data), chunk):
                piece = data[off:off + chunk]
                conn.sendall(piece)
                lines += piece.count(b"\n")
                sends.append((lines, time.time_ns()))
            conn.shutdown(socket.SHUT_WR)
        _report({"sends": sends})


def main(argv: list[str]) -> int:
    if argv[0] != "backlog":
        raise SystemExit(f"unknown mode {argv[0]!r}")
    data = backlog_bytes(*map(int, argv[1:4]))
    srv = socket.create_server(("127.0.0.1", 0))
    sys.stdout.write(f"{srv.getsockname()[1]}\n")
    sys.stdout.flush()
    with srv:
        serve_backlog(srv, data)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
