"""Seeded DNS traffic and the open-loop load generator.

Traffic follows the shape FIXTURES.md section 1.2 asks of stream
fixtures, expressed through the canonical events -> DNS mapping the
engine decodes (``sources.events``): even ``event_id`` = query, odd =
response, and ``event_id // 2`` carries the J1 pair key, so query ``2k``
and response ``2k+1`` of transaction ``k`` share ``{identity,
queryAddress, queryPort, id}``.

Per transaction (shares are fixed; which transaction gets which kind is
drawn from the seed):

- 80 % paired: the response follows its query by 0-500 ms;
  a share of those (a tenth by default) arrive out of order: the query
  frame is held back and sent right after its response;
- 7 % orphan queries and 7 % orphan responses;
- 6 % id collisions: a stale response on the key, then a later query
  (negative delta: the state machine replaces) and its response.

Three identities (``user_id % 3``); the rcode mix is the canonical one
(70 % NOERROR). The same (seed, rate, seconds, t0) always yields the same
frames, which is how the benchmark regenerates the expected events.

Run as a script this is the load generator: one process, one
framestream connection, frames sent on their schedule whether or not the
receiver keeps up, recording how late each send was (``--closed``: as
fast as the receiver reads, for writing a stored backlog).
"""

from __future__ import annotations

import argparse
import os
import socket
import struct
import sys
import time

import numpy as np

SHARES = {"paired": 0.80, "orphan_query": 0.07, "orphan_response": 0.07, "collision": 0.06}
OUT_OF_ORDER = 0.10  # default share of paired transactions whose response is sent first
MAX_DELAY_US = 500_000
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
CONTENT_TYPE = b"application/x-bridge-binary"


def make_frames(
    seed: int, rate: float, seconds: float, t0_us: int, out_of_order: float = OUT_OF_ORDER
) -> dict[str, np.ndarray]:
    """Frames of ``seconds`` of traffic at ``rate`` frames/s, in send
    order, with ``out_of_order`` of the paired transactions sending the
    response first. With ``out_of_order=0`` every frame is sent at its
    event time, so event times arrive in order. Columns: ``send_us`` (scheduled send, wall-clock micros),
    ``event_id``, ``ts_us`` (event time), ``user_id``, ``event_type``,
    ``value``, ``props``."""
    rng = np.random.default_rng(seed)
    kinds = np.array(list(SHARES))
    probs = np.array(list(SHARES.values()))
    frames_per = {"paired": 2, "orphan_query": 1, "orphan_response": 1, "collision": 3}
    mean_frames = float(sum(probs[i] * frames_per[k] for i, k in enumerate(kinds)))
    n_tx = max(1, int(round(rate * seconds / mean_frames)))
    kind = rng.choice(len(kinds), size=n_tx, p=probs)
    # transaction starts: uniform grid over the span, jittered inside its slot
    slot = seconds * 1e6 / n_tx
    start = ((np.arange(n_tx) + rng.random(n_tx)) * slot).astype(np.int64)
    delay = rng.integers(0, MAX_DELAY_US + 1, size=n_tx)
    gap = rng.integers(1_000, 200_001, size=n_tx)  # collision: stale response -> new query
    swap = rng.random(n_tx) < out_of_order
    k0 = int(rng.integers(0, 2**30))
    user = rng.integers(0, 1500, size=n_tx)

    eid, ts, send, uid = [], [], [], []

    def put(e, t, s, u):
        eid.append(e)
        ts.append(t)
        send.append(s)
        uid.append(u)

    for i in range(n_tx):
        k, t, u = k0 + i, int(start[i]), int(user[i])
        name = kinds[kind[i]]
        if name == "paired":
            r = t + int(delay[i])
            if swap[i]:
                put(2 * k + 1, r, r, u)
                put(2 * k, t, r + 1, u)
            else:
                put(2 * k, t, t, u)
                put(2 * k + 1, r, r, u)
        elif name == "orphan_query":
            put(2 * k, t, t, u)
        elif name == "orphan_response":
            put(2 * k + 1, t, t, u)
        else:  # collision
            q = t + int(gap[i])
            r = q + int(delay[i])
            put(2 * k + 1, t, t, u)
            put(2 * k, q, q, u)
            put(2 * k + 1, r, r, u)
    send_a = np.asarray(send, dtype=np.int64)
    order = np.argsort(send_a, kind="stable")
    n = len(order)
    return {
        "send_us": send_a[order] + t0_us,
        "event_id": np.asarray(eid, dtype=np.int64)[order],
        "ts_us": np.asarray(ts, dtype=np.int64)[order] + t0_us,
        "user_id": np.asarray(uid, dtype=np.int64)[order],
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n)],
        "value": np.round(rng.gamma(1.0, 50.0, size=n), 2),
        "props": np.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, size=n)]),
    }


def frames_table(frames: dict[str, np.ndarray]):
    """The frames as an events-shaped Arrow table (the bridge's chunk
    schema, ``BRIDGE_SCHEMA`` on the Spark side)."""
    import pyarrow as pa

    return pa.table(
        {
            "event_id": frames["event_id"],
            "ts": pa.array(frames["ts_us"], pa.timestamp("us", tz="UTC")),
            "user_id": frames["user_id"],
            "event_type": frames["event_type"],
            "value": frames["value"],
            "props": frames["props"],
        }
    )


def encode(frames: dict[str, np.ndarray]) -> list[bytes]:
    """Length-prefixed binary-codec data frames, one per event."""
    from dnstap2clickhouse_spark.sources.bridge import encode_binary_frame

    hdr = struct.Struct(">I")
    out = []
    for e, t, u, et, v, p in zip(
        frames["event_id"].tolist(),
        frames["ts_us"].tolist(),
        frames["user_id"].tolist(),
        frames["event_type"].tolist(),
        frames["value"].tolist(),
        frames["props"].tolist(),
    ):
        payload = encode_binary_frame(
            {"event_id": e, "ts_us": t, "user_id": u, "event_type": et, "value": v, "props": p}
        )
        out.append(hdr.pack(len(payload)) + payload)
    return out


# ------------------------------------------------------------ framestream
def _recv_control(c: socket.socket) -> tuple[int, list[bytes]]:
    from dnstap2clickhouse_spark.sources.bridge import parse_control_frame

    hdr = struct.Struct(">I")
    buf = b""
    while True:
        if len(buf) >= 8:
            (clen,) = hdr.unpack_from(buf, 4)
            if len(buf) >= 8 + clen:
                return parse_control_frame(buf[8 : 8 + clen])
        chunk = c.recv(65536)
        if not chunk:
            raise ConnectionError("receiver closed during the framestream handshake")
        buf += chunk


def connect(socket_path: str, timeout: float = 30.0) -> socket.socket:
    """Connect and run the bidirectional framestream handshake
    (READY -> ACCEPT -> START) for the binary bridge codec."""
    from dnstap2clickhouse_spark.sources.bridge import (
        FSTRM_ACCEPT,
        FSTRM_READY,
        FSTRM_START,
        encode_control_frame,
    )

    deadline = time.time() + timeout
    while True:
        try:
            c = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
            c.connect(socket_path)
            break
        except OSError:
            c.close()
            if time.time() > deadline:
                raise
            time.sleep(0.05)
    c.settimeout(timeout)
    c.sendall(encode_control_frame(FSTRM_READY, (CONTENT_TYPE,)))
    ctype, cts = _recv_control(c)
    if ctype != FSTRM_ACCEPT or CONTENT_TYPE not in cts:
        raise ConnectionError(f"receiver refused {CONTENT_TYPE!r}: {ctype} {cts}")
    c.sendall(encode_control_frame(FSTRM_START, (CONTENT_TYPE,)))
    return c


def finish(c: socket.socket) -> None:
    """STOP -> FINISH, then close."""
    from dnstap2clickhouse_spark.sources.bridge import (
        FSTRM_FINISH,
        FSTRM_STOP,
        encode_control_frame,
    )

    c.sendall(encode_control_frame(FSTRM_STOP))
    ctype, _ = _recv_control(c)
    c.close()
    if ctype != FSTRM_FINISH:
        raise ConnectionError(f"expected FINISH, got control type {ctype}")


def send_all(socket_path: str, frames: dict[str, np.ndarray], batch: int = 2000) -> None:
    """Closed loop: send every frame as fast as the receiver takes them."""
    enc = encode(frames)
    c = connect(socket_path)
    for i in range(0, len(enc), batch):
        c.sendall(b"".join(enc[i : i + batch]))
    finish(c)


def send_open_loop(socket_path: str, frames: dict[str, np.ndarray]) -> np.ndarray:
    """Open loop: send each frame at its scheduled wall-clock time, never
    waiting on the receiver's pace beyond the socket's own buffer.
    Returns each frame's actual send time (wall-clock micros)."""
    enc = encode(frames)
    due = frames["send_us"]
    sent = np.zeros(len(due), dtype=np.int64)
    c = connect(socket_path)
    i, n = 0, len(due)
    while i < n:
        now = int(time.time() * 1e6)
        j = int(np.searchsorted(due, now, side="right"))
        if j > i:
            sent[i:j] = now
            c.sendall(b"".join(enc[i:j]))
            i = j
        else:
            time.sleep(min((int(due[i]) - now) / 1e6, 0.002))
    finish(c)
    return sent


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="open-loop dnstap-style load generator")
    p.add_argument("--socket", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--rate", type=float, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--t0-us", type=int, required=True, help="wall-clock start of the schedule")
    p.add_argument("--out", help=".npy file for the actual send times (open loop)")
    p.add_argument("--out-of-order", type=float, default=OUT_OF_ORDER,
                   help="share of paired transactions whose query is sent after its response")
    p.add_argument("--closed", action="store_true", help="send as fast as the receiver reads")
    a = p.parse_args(argv)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    frames = make_frames(a.seed, a.rate, a.seconds, a.t0_us, a.out_of_order)
    if a.closed:
        send_all(a.socket, frames)
    else:
        np.save(a.out, send_open_loop(a.socket, frames))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
