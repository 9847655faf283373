"""Minimal HTTP/2 (RFC 9113) server + client — pure stdlib, h2c only.

Carries the gRPC transport parity layer (reference gRPC API,
`proxyapi/grpc_v1.go`). Cleartext prior-knowledge HTTP/2 ("h2c") is the
mode gRPC clients use for insecure channels — the in-cluster deployment
shape of the reference (`docs/en/02-flags.md` gRPC listen addrs carry no
TLS flags).

Implemented server surface (what a real gRPC client exercises):

- connection preface check, SETTINGS exchange + acks;
- HEADERS (+CONTINUATION, PADDED/PRIORITY flags) with stateful HPACK;
- DATA with receive-side WINDOW_UPDATE replenishment;
- send-side flow control honoring the peer's connection AND stream
  windows plus SETTINGS_INITIAL_WINDOW_SIZE changes (RFC 9113 §6.9.2) —
  without this, any response over 64 KiB (an /Export drain) deadlocks a
  compliant client;
- PING ack, RST_STREAM, GOAWAY, PRIORITY (ignored), frame-size limits.

Each completed request stream is dispatched to the application callback
on a worker thread, so a long Spark query never stalls the connection's
frame loop (concurrent streams keep flowing — the reference proxy serves
concurrent gRPC searches the same way).
"""

from __future__ import annotations

import socket
import struct
import threading
import time
from typing import Callable, Iterable, List, Optional, Tuple

from . import hpack

# frame types (RFC 9113 §6)
DATA = 0x0
HEADERS = 0x1
PRIORITY = 0x2
RST_STREAM = 0x3
SETTINGS = 0x4
PUSH_PROMISE = 0x5
PING = 0x6
GOAWAY = 0x7
WINDOW_UPDATE = 0x8
CONTINUATION = 0x9

# flags
FLAG_END_STREAM = 0x1
FLAG_ACK = 0x1
FLAG_END_HEADERS = 0x4
FLAG_PADDED = 0x8
FLAG_PRIORITY = 0x20

# settings ids
SETTINGS_HEADER_TABLE_SIZE = 0x1
SETTINGS_MAX_CONCURRENT_STREAMS = 0x3
SETTINGS_INITIAL_WINDOW_SIZE = 0x4
SETTINGS_MAX_FRAME_SIZE = 0x5

PREFACE = b"PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n"
DEFAULT_WINDOW = 65535
MAX_FRAME_SIZE = 16384

#: receive-side bounds (RFC 9113 §6.5.2: a peer may not exceed our
#: MAX_FRAME_SIZE, which we leave at the 16384 default; the block/body
#: caps bound per-stream buffering so a peer cannot grow memory without
#: bound — §10.5 denial-of-service considerations)
MAX_RECV_FRAME = MAX_FRAME_SIZE
MAX_HEADER_BLOCK = 1 << 20
MAX_BODY_BYTES = 64 << 20

#: receive windows we advertise (SETTINGS_INITIAL_WINDOW_SIZE + an
#: immediate connection WINDOW_UPDATE): 1 MiB instead of the 64 KiB
#: default, so bulk streams don't stall every 64 KiB waiting for updates
RECV_WINDOW = 1 << 20

#: server send-side stall bound: a stream whose peer provides no flow-
#: control window for this long is aborted (RST + handler unwind), so a
#: silent consumer cannot park a handler thread (and with it the
#: connection idle timeout) forever
SEND_STALL_LIMIT_S = 120.0
#: replenish consumed receive window in batches of this many bytes — a
#: WINDOW_UPDATE pair per DATA frame doubled the packet count and
#: dominated small-message streaming throughput (measured: 50k-doc
#: export 17 s → the update chatter, not payload, was the cost)
WINDOW_UPDATE_BATCH = RECV_WINDOW // 4

#: application callback: (headers, body) -> (response headers, body chunk
#: iterable, trailers). Chunks are written as DATA frames under flow
#: control; trailers close the stream.
Handler = Callable[
    [List[Tuple[str, str]], bytes],
    Tuple[List[Tuple[str, str]], Iterable[bytes], List[Tuple[str, str]]],
]


class _SerializedTLSSocket:
    """Thread-safety shim for TLS connections: an OpenSSL connection is
    NOT safe for concurrent SSL_read / SSL_write from two threads, and
    both h2 endpoints have exactly that shape (a blocking frame-reader
    thread plus handler/request threads writing frames). Interleaved
    calls intermittently corrupt the connection state and BOTH peers
    observe a spurious close (reproduced: ~50% failure rate on a
    unary-then-stream gRPC sequence over TLS).

    Every SSL call is serialized under one lock — but the reader never
    BLOCKS inside it: it waits for readability on the raw fd OUTSIDE the
    lock (select) and takes the lock only to drain data that has already
    arrived (or plaintext the SSL layer already buffered, which select
    cannot see — hence the ``pending()`` check). Writers therefore wait
    at most one record-drain, not an entire idle period. Cleartext
    connections never pass through here — plain sockets allow the
    concurrent shape natively and pay no polling.

    Exposes exactly the socket surface the h2 code uses: ``recv``,
    ``sendall``, ``close`` (+ timeout passthrough). The configured
    socket timeout keeps its meaning: recv raises ``TimeoutError`` after
    that long without data (the server's idle reclaim)."""

    #: select timeout between wakeups. This does NOT bound data latency —
    #: select wakes immediately on new bytes, and SSL-buffered plaintext
    #: is always drained (pending() check) BEFORE re-entering select — it
    #: only bounds how late the idle-deadline check can fire. 2 s costs
    #: idle-timeout precision nobody observes (the default timeout is
    #: minutes) and cuts idle wakeup CPU 13x: measured 2.18 -> 0.16
    #: m-cores per idle TLS connection (BASELINE.md round 12).
    _POLL_S = 2.0
    #: bound on how long the reader may hold the lock draining a record
    #: whose tail has not arrived — a peer trickling one byte per record
    #: must not starve writer threads for a full second per attempt
    _PARTIAL_S = 0.075

    def __init__(self, ssock):
        self._s = ssock
        self._lock = threading.Lock()

    def recv(self, n: int) -> bytes:
        import select as _select
        import ssl as _ssl

        timeout = self._s.gettimeout()
        if timeout == 0:
            # non-blocking semantics, preserved explicitly: 0 is falsy and
            # would otherwise read as "no deadline" = block forever
            with self._lock:
                if self._s.pending():
                    return self._s.recv(n)
            if not _select.select([self._s], [], [], 0)[0]:
                raise BlockingIOError("non-blocking recv: no data")
            with self._lock:
                try:
                    return self._s.recv(n)
                except _ssl.SSLWantReadError:
                    # readable fd but an incomplete TLS record: surface the
                    # documented non-blocking contract, not an SSL internal
                    raise BlockingIOError(
                        "non-blocking recv: incomplete record"
                    ) from None
        deadline = (time.monotonic() + timeout) if timeout else None
        partials = 0
        while True:
            with self._lock:
                if self._s.pending():
                    return self._s.recv(n)
            try:
                r, _, _ = _select.select([self._s], [], [], self._POLL_S)
            except (OSError, ValueError):
                # closed underneath us mid-wait
                raise ConnectionError("socket closed during recv") from None
            if r:
                with self._lock:
                    prev = self._s.gettimeout()
                    # a whole record is normally already queued; the short
                    # bound keeps a partial-record stall from pinning
                    # writers behind the lock (SSL_read consumes the
                    # partial bytes into its record buffer, so select goes
                    # quiet again until the peer sends more — no busy loop)
                    self._s.settimeout(self._PARTIAL_S)
                    try:
                        return self._s.recv(n)
                    except (TimeoutError, _ssl.SSLWantReadError):
                        partials += 1  # partial record: wait for the rest
                    finally:
                        self._s.settimeout(prev)
                if partials > 2:
                    # a peer repeatedly trickling record fragments: back
                    # off OUTSIDE the lock so writers run between attempts
                    time.sleep(min(0.01 * partials, self._POLL_S))
            if deadline is not None and time.monotonic() > deadline:
                raise TimeoutError("recv idle timeout")

    def sendall(self, data: bytes) -> None:
        with self._lock:
            self._s.sendall(data)

    def settimeout(self, t) -> None:
        self._s.settimeout(t)

    def gettimeout(self):
        return self._s.gettimeout()

    def close(self) -> None:
        try:
            self._s.close()
        except OSError:
            pass

    def selected_alpn_protocol(self):
        return self._s.selected_alpn_protocol()


def pack_frame(ftype: int, flags: int, stream_id: int, payload: bytes) -> bytes:
    return struct.pack(">I", len(payload))[1:] + bytes(
        [ftype, flags]
    ) + struct.pack(">I", stream_id & 0x7FFFFFFF) + payload


def _recv_exact(sock: socket.socket, n: int) -> bytes:
    buf = bytearray()
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("peer closed")
        buf += chunk
    return bytes(buf)


def read_frame(sock: socket.socket) -> Tuple[int, int, int, bytes]:
    head = _recv_exact(sock, 9)
    length = int.from_bytes(head[:3], "big")
    ftype, flags = head[3], head[4]
    stream_id = int.from_bytes(head[5:9], "big") & 0x7FFFFFFF
    payload = _recv_exact(sock, length) if length else b""
    return ftype, flags, stream_id, payload


def _strip_padding(flags: int, payload: bytes) -> bytes:
    if flags & FLAG_PADDED:
        if not payload:
            raise ValueError("padded frame without pad length")
        pad = payload[0]
        if pad >= len(payload):
            raise ValueError("padding exceeds frame")
        payload = payload[1 : len(payload) - pad]
    return payload


class _Stream:
    __slots__ = ("headers", "data", "header_block", "send_window", "reset",
                 "end_stream_pending")

    def __init__(self, initial_window: int):
        self.headers: Optional[List[Tuple[str, str]]] = None
        self.header_block = bytearray()
        self.data = bytearray()
        self.send_window = initial_window
        self.reset = False
        #: END_STREAM seen on the HEADERS frame whose block is still
        #: being continued — must survive into the CONTINUATION finish
        self.end_stream_pending = False


class _Conn:
    """Server side of one HTTP/2 connection."""

    def __init__(self, sock: socket.socket, handler: Handler):
        self._sock = sock
        self._handler = handler
        self._decoder = hpack.Decoder()
        self._encoder = hpack.Encoder()
        self._write_lock = threading.Lock()
        self._flow = threading.Condition()
        self._send_window = DEFAULT_WINDOW  # connection-level, peer-governed
        self._peer_initial_window = DEFAULT_WINDOW
        self._peer_max_frame = MAX_FRAME_SIZE
        self._streams: dict[int, _Stream] = {}
        self._max_sid_seen = 0  # for the GOAWAY last-stream-id on error
        self._continuation_sid: Optional[int] = None
        self._closed = False
        #: receive-window bookkeeping: bytes consumed since the last
        #: WINDOW_UPDATE we sent, connection-wide and per live stream
        self._recv_pending = 0
        self._recv_pending_stream: dict[int, int] = {}
        #: bytes read past the connection start (prior-knowledge probe may
        #: over-read into the first frames) — drained before the socket
        self._pending = b""
        #: handler threads currently computing responses on this
        #: connection — the idle-timeout must not fire while we are the
        #: busy side (guarded by _flow)
        self._busy = 0

    def _recv_conn(self, n: int, deadline: Optional[float] = None) -> bytes:
        out = bytearray()
        if self._pending:
            take = self._pending[:n]
            self._pending = self._pending[len(take):]
            out += take
        while len(out) < n:
            if deadline is not None and time.monotonic() > deadline:
                # slow-loris bound: a peer trickling one byte per
                # just-under-the-socket-timeout resets the per-recv timer
                # forever — once a frame has STARTED, the remainder must
                # arrive within one whole-frame budget, busy or not
                raise ConnectionError("frame trickle exceeded budget")
            try:
                chunk = self._sock.recv(n - len(out))
            except TimeoutError:
                # idle-timeout applies only to a TRULY idle connection: a
                # silent socket while a handler computes (long query — the
                # SERVER is the busy side) is legitimate, keep waiting. A
                # stalled peer with no handler running — including one
                # that opened a stream and never finished it — is
                # reclaimed; _busy covers a streaming response drain for
                # its whole duration.
                if self._busy > 0:
                    continue
                raise
            if not chunk:
                raise ConnectionError("peer closed")
            out += chunk
        return bytes(out)

    def _read_frame(self) -> Tuple[int, int, int, bytes]:
        # waiting for a frame to START is governed by the idle/busy rules;
        # once its first byte arrives the rest of the frame must complete
        # within one socket-timeout budget (anti-slow-loris)
        first = self._recv_conn(1)
        deadline = time.monotonic() + (self._sock.gettimeout() or 300.0)
        head = first + self._recv_conn(8, deadline)
        length = int.from_bytes(head[:3], "big")
        ftype, flags = head[3], head[4]
        stream_id = int.from_bytes(head[5:9], "big") & 0x7FFFFFFF
        payload = self._recv_conn(length, deadline) if length else b""
        return ftype, flags, stream_id, payload

    # ------------------------------------------------------------- writing

    def _write(self, data: bytes) -> None:
        try:
            with self._write_lock:
                try:
                    self._sock.sendall(data)
                    return
                except OSError:
                    # the socket timeout applies to sends too: a timeout
                    # (or error) mid-sendall may have written a PARTIAL
                    # frame, and a multiplexed byte stream with a
                    # truncated frame in it is unrecoverable — every later
                    # frame would be misparsed. The flag + close happen
                    # while STILL holding _write_lock: that fences any
                    # other writer from appending a well-formed frame
                    # right after the truncated bytes.
                    self._closed = True
                    try:
                        self._sock.close()
                    except OSError:
                        pass
        finally:
            # the _flow notification happens AFTER _write_lock is
            # released: taking _flow while holding _write_lock deadlocks
            # against _send_data, whose caller may hold _flow while
            # waiting for _write_lock (ABBA). _closed is a plain flag —
            # setting it under _write_lock and notifying later is safe.
            if self._closed:
                with self._flow:
                    self._flow.notify_all()
        raise ConnectionError("h2 send failed mid-frame") from None

    def send_frame(self, ftype: int, flags: int, sid: int, payload: bytes) -> None:
        self._write(pack_frame(ftype, flags, sid, payload))

    def _send_data(self, sid: int, stream: _Stream, chunk: bytes) -> None:
        """DATA under connection + stream flow control.

        A peer that opens a window-0 stream (or stops sending
        WINDOW_UPDATEs mid-download) and then goes silent would otherwise
        park this handler thread forever — and a parked handler keeps
        ``_busy`` high, which suppresses the connection idle timeout. A
        stall bound converts that into a terminated stream: no window
        progress for SEND_STALL_LIMIT_S ends the stream with RST and
        unwinds the handler, after which the idle timeout can reclaim a
        truly dead connection."""
        view = memoryview(chunk)
        stalled = 0.0
        while view:
            abort = False
            with self._flow:
                # wait granularity tracks the (patchable) stall limit so
                # a shrunken limit still aborts promptly
                tick = min(30.0, SEND_STALL_LIMIT_S)
                while not self._closed and not stream.reset and (
                    self._send_window <= 0 or stream.send_window <= 0
                ):
                    if self._flow.wait(timeout=tick):
                        stalled = 0.0
                    else:
                        stalled += tick
                        if stalled >= SEND_STALL_LIMIT_S:
                            break
                if self._closed or stream.reset:
                    raise ConnectionError("stream closed while sending")
                if stalled >= SEND_STALL_LIMIT_S and (
                    self._send_window <= 0 or stream.send_window <= 0
                ):
                    # record the decision under _flow; perform the send
                    # outside it — send_frame can block in sendall, and
                    # holding _flow through that would stall the frame
                    # loop's WINDOW_UPDATE processing (and, combined with
                    # _write's teardown, risked an ABBA deadlock)
                    abort = True
                else:
                    n = min(len(view), self._send_window,
                            stream.send_window, self._peer_max_frame)
                    self._send_window -= n
                    stream.send_window -= n
            if abort:
                try:
                    # FLOW_CONTROL_ERROR: tell the peer why, if it is
                    # still listening (RST is not flow-controlled)
                    self.send_frame(
                        RST_STREAM, 0, sid, struct.pack(">I", 0x3)
                    )
                except (OSError, ConnectionError):
                    pass
                raise ConnectionError(
                    "peer stalled flow control; stream aborted"
                )
            self.send_frame(DATA, 0, sid, bytes(view[:n]))
            view = view[n:]

    # ------------------------------------------------------------- serving

    def _read_connection_start(self):
        """Accept either start sequence a real client uses: the direct h2
        preface (prior knowledge — gRPC's mode) or an HTTP/1.1 request
        carrying ``Upgrade: h2c`` (RFC 7540 §3.2 — what e.g.
        ``java.net.http.HttpClient`` sends for http:// URLs with HTTP_2).
        Returns None for prior knowledge, or the (headers, body) of the
        upgraded request to be served as stream 1."""
        buf = bytearray()
        deadline = None
        while True:
            if buf.startswith(PREFACE[: len(buf)]) and len(buf) >= len(PREFACE):
                # prior knowledge; keep any extra bytes for the frame loop
                self._pending = bytes(buf[len(PREFACE):])
                return None
            if not buf.startswith(PREFACE[: min(len(buf), len(PREFACE))]):
                if b"\r\n\r\n" in buf:
                    break
                if len(buf) > MAX_HEADER_BLOCK:
                    raise ValueError("oversized request head")
            if deadline is not None and time.monotonic() > deadline:
                raise ConnectionError("connection start trickle exceeded budget")
            chunk = self._sock.recv(4096)
            if not chunk:
                raise ConnectionError("peer closed during start")
            if deadline is None:
                # anti-slow-loris: once the start sequence has begun it
                # must complete within one socket-timeout budget
                deadline = time.monotonic() + (
                    self._sock.gettimeout() or 300.0
                )
            buf += chunk
        head, _, rest = bytes(buf).partition(b"\r\n\r\n")
        lines = head.decode("latin-1").split("\r\n")
        try:
            method, path, _version = lines[0].split(" ", 2)
        except ValueError:
            raise ValueError("malformed request line") from None
        hmap: dict[str, str] = {}
        for line in lines[1:]:
            k, _, v = line.partition(":")
            hmap[k.strip().lower()] = v.strip()
        if "h2c" not in hmap.get("upgrade", ""):
            self._write(
                b"HTTP/1.1 505 HTTP Version Not Supported\r\n"
                b"Connection: close\r\nContent-Length: 0\r\n\r\n"
            )
            raise ConnectionError("no h2c upgrade offered")
        # HTTP2-Settings: base64url SETTINGS payload (§3.2.1) — apply as
        # the client's initial settings, never ACKed
        import base64

        h2s = hmap.get("http2-settings", "")
        if h2s:
            pad = "=" * (-len(h2s) % 4)
            self._apply_settings(base64.urlsafe_b64decode(h2s + pad))
        clen = int(hmap.get("content-length", "0") or 0)
        if clen > MAX_BODY_BYTES:
            # same bound the framed DATA path enforces — a client-declared
            # Content-Length must not buy an unbounded pre-upgrade buffer
            self._write(
                b"HTTP/1.1 413 Payload Too Large\r\n"
                b"Connection: close\r\nContent-Length: 0\r\n\r\n"
            )
            raise ConnectionError("upgrade body exceeds MAX_BODY_BYTES")
        body = bytearray(rest)
        while len(body) < clen:
            chunk = self._sock.recv(clen - len(body))
            if not chunk:
                raise ConnectionError("peer closed mid-body")
            body += chunk
        self._write(
            b"HTTP/1.1 101 Switching Protocols\r\n"
            b"Connection: Upgrade\r\nUpgrade: h2c\r\n\r\n"
        )
        preface = _recv_exact(self._sock, len(PREFACE))
        if preface != PREFACE:
            raise ValueError("missing h2 preface after 101")
        self._pending = b""
        pseudo = [
            (":method", method),
            (":scheme", "http"),
            (":path", path),
            (":authority", hmap.get("host", "")),
        ]
        skip = {"host", "connection", "upgrade", "http2-settings",
                "content-length", "te"}
        pseudo += [(k, v) for k, v in hmap.items() if k not in skip]
        return pseudo, bytes(body)

    def serve(self) -> None:
        h2_live = False  # becomes True once the peer speaks h2 framing
        try:
            upgraded = self._read_connection_start()
            h2_live = True
            self.send_frame(SETTINGS, 0, 0, struct.pack(
                ">HIHI",
                SETTINGS_MAX_CONCURRENT_STREAMS, 1024,
                SETTINGS_INITIAL_WINDOW_SIZE, RECV_WINDOW,
            ))
            self.send_frame(WINDOW_UPDATE, 0, 0, struct.pack(
                ">I", RECV_WINDOW - DEFAULT_WINDOW
            ))
            if upgraded is not None:
                # the pre-upgrade request is served as stream 1 (§3.2),
                # half-closed (remote) — the response flows as h2 frames
                headers, body = upgraded
                st = self._stream(1)
                st.headers = headers
                st.data = bytearray(body)
                self._dispatch(1, st)
            while True:
                ftype, flags, sid, payload = self._read_frame()
                if len(payload) > MAX_RECV_FRAME:
                    # peer exceeded our (default) SETTINGS_MAX_FRAME_SIZE —
                    # FRAME_SIZE_ERROR, connection-fatal (§4.2)
                    raise ValueError("frame exceeds SETTINGS_MAX_FRAME_SIZE")
                if self._continuation_sid is not None and ftype != CONTINUATION:
                    raise ValueError("expected CONTINUATION")
                if ftype == SETTINGS:
                    self._on_settings(flags, payload)
                elif ftype == HEADERS:
                    self._on_headers(flags, sid, payload)
                elif ftype == CONTINUATION:
                    self._on_continuation(flags, sid, payload)
                elif ftype == DATA:
                    self._on_data(flags, sid, payload)
                elif ftype == WINDOW_UPDATE:
                    self._on_window_update(sid, payload)
                elif ftype == PING:
                    if not flags & FLAG_ACK:
                        self.send_frame(PING, FLAG_ACK, 0, payload)
                elif ftype == RST_STREAM:
                    st = self._streams.pop(sid, None)
                    self._recv_pending_stream.pop(sid, None)
                    if st is not None:
                        with self._flow:
                            st.reset = True
                            self._flow.notify_all()
                elif ftype == GOAWAY:
                    return
                # PRIORITY / PUSH_PROMISE / unknown: ignored
        except ValueError:
            # protocol violation: answer GOAWAY(PROTOCOL_ERROR) so a
            # conforming peer learns WHY before the close (§5.4.1);
            # best-effort — the socket may already be gone. Only once the
            # peer actually speaks h2: a pre-upgrade HTTP/1.1 parse error
            # must not get binary h2 framing on a text-protocol socket
            if h2_live:
                try:
                    self.send_frame(
                        GOAWAY, 0, 0,
                        struct.pack(">II", self._max_sid_seen, 0x1),
                    )
                except OSError:
                    pass
        except (ConnectionError, OSError):
            pass
        finally:
            with self._flow:
                self._closed = True
                self._flow.notify_all()
            try:
                self._sock.close()
            except OSError:
                pass

    # ------------------------------------------------------------ frame ops

    def _on_settings(self, flags: int, payload: bytes) -> None:
        if flags & FLAG_ACK:
            if payload:
                # §6.5: ACK with payload is FRAME_SIZE_ERROR
                raise ValueError("SETTINGS ACK with payload")
            return
        if len(payload) % 6:
            # §6.5: length must be a multiple of 6 — FRAME_SIZE_ERROR;
            # silently dropping the trailing bytes would desync the
            # peer's view of which settings were applied
            raise ValueError("SETTINGS length not a multiple of 6")
        self._apply_settings(payload)
        self.send_frame(SETTINGS, FLAG_ACK, 0, b"")

    def _apply_settings(self, payload: bytes) -> None:
        for off in range(0, len(payload) - 5, 6):
            ident, value = struct.unpack_from(">HI", payload, off)
            if ident == SETTINGS_INITIAL_WINDOW_SIZE:
                # §6.9.2: delta applies to every open stream's window
                with self._flow:
                    delta = value - self._peer_initial_window
                    self._peer_initial_window = value
                    for st in self._streams.values():
                        st.send_window += delta
                    self._flow.notify_all()
            elif ident == SETTINGS_MAX_FRAME_SIZE:
                # RFC 9113 §6.5.2: legal range [2^14, 2^24 - 1]
                self._peer_max_frame = max(
                    MAX_FRAME_SIZE, min(value, (1 << 24) - 1)
                )

    def _stream(self, sid: int) -> _Stream:
        st = self._streams.get(sid)
        if st is None:
            st = _Stream(self._peer_initial_window)
            self._streams[sid] = st
            if sid > self._max_sid_seen:
                self._max_sid_seen = sid
        return st

    def _on_headers(self, flags: int, sid: int, payload: bytes) -> None:
        payload = _strip_padding(flags, payload)
        if flags & FLAG_PRIORITY:
            payload = payload[5:]
        st = self._stream(sid)
        st.header_block += payload
        if len(st.header_block) > MAX_HEADER_BLOCK:
            raise ValueError("header block too large")
        if flags & FLAG_END_HEADERS:
            self._finish_headers(sid, st, flags & FLAG_END_STREAM)
        else:
            # END_STREAM belongs to the HEADERS frame even when the block
            # spans CONTINUATIONs — remember it for the finish
            st.end_stream_pending = bool(flags & FLAG_END_STREAM)
            self._continuation_sid = sid

    def _on_continuation(self, flags: int, sid: int, payload: bytes) -> None:
        if sid != self._continuation_sid:
            raise ValueError("CONTINUATION on wrong stream")
        st = self._stream(sid)
        st.header_block += payload
        if len(st.header_block) > MAX_HEADER_BLOCK:
            raise ValueError("header block too large")
        if flags & FLAG_END_HEADERS:
            self._continuation_sid = None
            end_stream = 1 if st.end_stream_pending else 0
            st.end_stream_pending = False
            self._finish_headers(sid, st, end_stream)

    def _finish_headers(self, sid: int, st: _Stream, end_stream: int) -> None:
        block = bytes(st.header_block)
        st.header_block = bytearray()
        decoded = self._decoder.decode(block)
        if st.headers is None:
            st.headers = decoded
        # (trailers from clients are legal but unused by gRPC requests)
        if end_stream:
            self._dispatch(sid, st)

    def _on_data(self, flags: int, sid: int, payload: bytes) -> None:
        data = _strip_padding(flags, payload)
        st = self._stream(sid)
        st.data += data
        if len(st.data) > MAX_BODY_BYTES:
            raise ValueError("request body too large")
        if payload:
            # batched receive-window replenishment: flush once a quarter
            # window is consumed, not per frame
            self._recv_pending += len(payload)
            n = self._recv_pending_stream.get(sid, 0) + len(payload)
            self._recv_pending_stream[sid] = n
            if self._recv_pending >= WINDOW_UPDATE_BATCH:
                self.send_frame(WINDOW_UPDATE, 0, 0,
                                struct.pack(">I", self._recv_pending))
                self._recv_pending = 0
            if n >= WINDOW_UPDATE_BATCH and not flags & FLAG_END_STREAM:
                self.send_frame(WINDOW_UPDATE, 0, sid, struct.pack(">I", n))
                self._recv_pending_stream[sid] = 0
        if flags & FLAG_END_STREAM:
            self._recv_pending_stream.pop(sid, None)
            self._dispatch(sid, st)

    def _on_window_update(self, sid: int, payload: bytes) -> None:
        if len(payload) != 4:
            raise ValueError("bad WINDOW_UPDATE")
        inc = int.from_bytes(payload, "big") & 0x7FFFFFFF
        if inc == 0:
            # §6.9: zero increment is PROTOCOL_ERROR — connection-fatal on
            # stream 0, RST_STREAM on an OPEN stream (a malicious peer
            # could otherwise tickle the flow-control wait loop for free).
            # Three non-open cases, distinguished per §5.1:
            # - CLOSED client stream (odd sid we've already seen and
            #   popped): tolerate silently — frames on recently closed
            #   streams must be ignored, and RSTing the connection here
            #   would kill unrelated in-flight streams;
            # - IDLE stream (never opened) or server-namespace (even)
            #   sid: connection-fatal — RST_STREAM on an idle stream
            #   would itself be a protocol violation.
            if sid == 0:
                raise ValueError("zero-increment WINDOW_UPDATE on connection")
            st = self._streams.get(sid)
            if st is None:
                if sid % 2 == 1 and sid <= self._max_sid_seen:
                    return  # closed stream: tolerate (§5.1)
                raise ValueError("zero-increment WINDOW_UPDATE on idle stream")
            self.send_frame(RST_STREAM, 0, sid, struct.pack(">I", 0x1))
            self._streams.pop(sid, None)
            self._recv_pending_stream.pop(sid, None)
            with self._flow:
                st.reset = True
                self._flow.notify_all()
            return
        with self._flow:
            if sid == 0:
                self._send_window += inc
            else:
                st = self._streams.get(sid)
                if st is not None:
                    st.send_window += inc
            self._flow.notify_all()

    # ------------------------------------------------------------- dispatch

    def _dispatch(self, sid: int, st: _Stream) -> None:
        headers, body = st.headers or [], bytes(st.data)
        st.data = bytearray()
        with self._flow:
            self._busy += 1
        threading.Thread(
            target=self._run_handler, args=(sid, st, headers, body), daemon=True
        ).start()

    def _run_handler(self, sid, st, headers, body) -> None:
        try:
            self._run_handler_inner(sid, st, headers, body)
        finally:
            with self._flow:
                self._busy -= 1

    def _run_handler_inner(self, sid, st, headers, body) -> None:
        try:
            resp_headers, chunks, trailers = self._handler(headers, body)
        except Exception:
            try:
                self.send_frame(
                    RST_STREAM, 0, sid, struct.pack(">I", 0x2)  # INTERNAL_ERROR
                )
            except OSError:
                pass
            self._streams.pop(sid, None)
            return
        try:
            block = self._encoder.encode(resp_headers)
            if chunks is None and not trailers:
                self.send_frame(HEADERS, FLAG_END_HEADERS | FLAG_END_STREAM,
                                sid, block)
                return
            self.send_frame(HEADERS, FLAG_END_HEADERS, sid, block)
            try:
                # coalesce small chunks into full frames: one DATA frame
                # per tiny gRPC message doubles syscall + frame overhead
                # on bulk streams (gRPC framing is self-delimiting, so
                # packing many messages per frame is transparent)
                buf = bytearray()
                for chunk in chunks or ():
                    if not chunk:
                        continue
                    buf += chunk
                    if len(buf) >= MAX_FRAME_SIZE:
                        self._send_data(sid, st, bytes(buf))
                        buf.clear()
            except (ConnectionError, OSError):
                raise
            except Exception:
                # a generator raising MID-stream (e.g. a Spark job failing
                # partway through an Export drain) must terminate the
                # stream visibly: RST ends it with no trailers, which a
                # gRPC client reads as a missing grpc-status → error —
                # never a silent hang until client timeout
                self.send_frame(
                    RST_STREAM, 0, sid, struct.pack(">I", 0x2)
                )
                return
            if trailers:
                if buf:
                    self._send_data(sid, st, bytes(buf))
                tblock = self._encoder.encode(trailers)
                self.send_frame(HEADERS, FLAG_END_HEADERS | FLAG_END_STREAM,
                                sid, tblock)
            else:
                # plain-HTTP responses (no trailers) close with END_STREAM
                # on the final DATA frame — what ordinary HTTP/2 clients
                # (e.g. java.net.http) expect
                if buf:
                    self._send_data(sid, st, bytes(buf))
                self.send_frame(DATA, FLAG_END_STREAM, sid, b"")
        except (ConnectionError, OSError):
            pass
        finally:
            self._streams.pop(sid, None)
            # a stream the peer cancelled ends its handler's iterator now
            # (an export holds a store snapshot until then)
            getattr(chunks, "close", lambda: None)()


class H2Server:
    """Threaded h2 server: one frame-loop thread per connection, one
    worker thread per request stream. Cleartext (h2c: prior knowledge or
    the RFC 7540 §3.2 Upgrade) by default; pass ``tls_cert``/``tls_key``
    (PEM paths) to serve h2-over-TLS instead — stdlib ``ssl`` with ALPN
    ``h2`` (§3.3), the mode every production gRPC deployment uses. The
    reference itself deploys without TLS (its compose files configure
    none), so cleartext stays the default and feature-parity mode."""

    def __init__(self, handler: Handler, host: str = "127.0.0.1", port: int = 0,
                 idle_timeout_s: float = 300.0,
                 tls_cert: Optional[str] = None, tls_key: Optional[str] = None):
        if (tls_cert is None) != (tls_key is None):
            raise ValueError("tls_cert and tls_key must be given together")
        self._handler = handler
        self._lsock = socket.create_server((host, port))
        self.port = self._lsock.getsockname()[1]
        self._accept_thread: Optional[threading.Thread] = None
        self._running = False
        #: per-recv socket timeout: a peer that connects and then sends
        #: nothing (slowloris / dead client) must not pin a frame-loop
        #: thread forever — socket.timeout is an OSError, so the serve
        #: loop's normal close path reclaims the connection
        self._idle_timeout = idle_timeout_s
        self._tls_ctx = None
        if tls_cert is not None:
            import ssl

            ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
            ctx.load_cert_chain(tls_cert, tls_key)
            ctx.set_alpn_protocols(["h2"])
            self._tls_ctx = ctx

    def start(self) -> "H2Server":
        self._running = True
        self._accept_thread = threading.Thread(target=self._accept, daemon=True)
        self._accept_thread.start()
        return self

    def _accept(self) -> None:
        while self._running:
            try:
                sock, _ = self._lsock.accept()
            except OSError:
                return
            sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            sock.settimeout(self._idle_timeout)
            # handshake + serve off the accept thread: a peer that stalls
            # mid-TLS-handshake must not block accept for everyone else
            # (named so tests can count THESE threads, not the global
            # count — a full-suite run has unrelated threads coming and
            # going, which made the reclaim test flaky)
            threading.Thread(
                target=self._serve_conn, args=(sock,), daemon=True,
                name=f"h2-conn-{self.port}",
            ).start()

    def _serve_conn(self, sock: socket.socket) -> None:
        if self._tls_ctx is not None:
            try:
                sock = self._tls_ctx.wrap_socket(sock, server_side=True)
            except (OSError, ValueError):
                # failed/garbage handshake: drop the connection quietly,
                # exactly like a malformed cleartext preface
                try:
                    sock.close()
                except OSError:
                    pass
                return
            sock = _SerializedTLSSocket(sock)
        _Conn(sock, self._handler).serve()

    def stop(self) -> None:
        self._running = False
        try:
            self._lsock.close()
        except OSError:
            pass


# --------------------------------------------------------------------- client


class H2ClientStream:
    __slots__ = ("headers", "data", "trailers", "done", "cond",
                 "send_window")

    def __init__(self, send_window: int = DEFAULT_WINDOW):
        self.headers: Optional[List[Tuple[str, str]]] = None
        self.trailers: Optional[List[Tuple[str, str]]] = None
        self.data = bytearray()
        self.done = False
        self.cond = threading.Condition()
        self.send_window = send_window


class H2Client:
    """Prior-knowledge h2 client — enough HTTP/2 to drive unary and
    server-streaming gRPC calls (used by :class:`seqspark.wire.grpc.
    GrpcChannel` and the e2e tests). Cleartext by default; pass
    ``tls_ca`` (a PEM bundle trusting the server, or ``True`` for the
    system store) to speak h2-over-TLS with ALPN — the connection fails
    loudly if the server does not negotiate ``h2``."""

    def __init__(self, host: str, port: int, timeout: float = 60.0,
                 tls_ca=None, server_hostname: Optional[str] = None):
        self._sock = socket.create_connection((host, port), timeout=timeout)
        self._sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        if tls_ca is not None:
            import ssl

            ctx = ssl.create_default_context()
            if tls_ca is not True:
                ctx.load_verify_locations(tls_ca)
            ctx.set_alpn_protocols(["h2"])
            try:
                self._sock = ctx.wrap_socket(
                    self._sock, server_hostname=server_hostname or host
                )
            except BaseException:
                # a failed handshake (bad cert, refused verify) must not
                # leak the TCP socket — retry loops would exhaust fds
                self._sock.close()
                raise
            if self._sock.selected_alpn_protocol() != "h2":
                alpn = self._sock.selected_alpn_protocol()
                self._sock.close()
                raise ConnectionError(
                    f"server did not negotiate h2 over ALPN (got {alpn!r})"
                )
            self._sock = _SerializedTLSSocket(self._sock)
        self._encoder = hpack.Encoder()
        self._decoder = hpack.Decoder()
        self._write_lock = threading.Lock()
        self._streams: dict[int, H2ClientStream] = {}
        self._next_sid = 1
        self._sid_lock = threading.Lock()
        self._closed = False
        self._header_sid: Optional[int] = None
        self._header_block = bytearray()
        self._header_end_stream = False
        # send-side flow control toward the server: a request body larger
        # than the 64 KiB initial windows must wait for WINDOW_UPDATEs —
        # a conforming peer treats overshoot as FLOW_CONTROL_ERROR
        self._flow = threading.Condition()
        self._send_window = DEFAULT_WINDOW
        self._peer_initial_window = DEFAULT_WINDOW
        self._peer_max_frame = MAX_FRAME_SIZE
        self._recv_pending = 0
        self._recv_pending_stream: dict[int, int] = {}
        self._sock.sendall(
            PREFACE
            + pack_frame(SETTINGS, 0, 0, struct.pack(
                ">HI", SETTINGS_INITIAL_WINDOW_SIZE, RECV_WINDOW))
            + pack_frame(WINDOW_UPDATE, 0, 0, struct.pack(
                ">I", RECV_WINDOW - DEFAULT_WINDOW))
        )
        self._reader = threading.Thread(target=self._read_loop, daemon=True)
        self._reader.start()

    def _write(self, data: bytes) -> None:
        with self._write_lock:
            self._sock.sendall(data)

    def request(
        self,
        headers: List[Tuple[str, str]],
        body: bytes,
        end_stream: bool = True,
    ) -> H2ClientStream:
        block = self._encoder.encode(headers)
        with self._sid_lock:
            # one critical section covers sid allocation, stream
            # registration AND the HEADERS write: (a) RFC 9113 §5.1.1
            # demands strictly increasing stream ids on the wire, so two
            # threads' HEADERS frames must leave in allocation order;
            # (b) registering under _flow makes the read loop's
            # INITIAL_WINDOW_SIZE delta either see this stream or be
            # reflected in _peer_initial_window — never neither
            with self._flow:
                sid = self._next_sid
                self._next_sid += 2
                st = H2ClientStream(self._peer_initial_window)
                self._streams[sid] = st
            self._write(pack_frame(
                HEADERS,
                FLAG_END_HEADERS
                | (0 if body or not end_stream else FLAG_END_STREAM),
                sid,
                block,
            ))
        view = memoryview(body or b"")
        while view:
            with self._flow:
                while not self._closed and (
                    self._send_window <= 0 or st.send_window <= 0
                ):
                    self._flow.wait(timeout=30)
                if self._closed:
                    raise ConnectionError("h2 connection closed while sending")
                n = min(len(view), self._send_window, st.send_window,
                        self._peer_max_frame)
                self._send_window -= n
                st.send_window -= n
            last = n == len(view)
            self._write(pack_frame(
                DATA, FLAG_END_STREAM if (last and end_stream) else 0,
                sid, bytes(view[:n]),
            ))
            view = view[n:]
        return st

    def wait(self, st: H2ClientStream, timeout: float = 120.0) -> None:
        with st.cond:
            if not st.cond.wait_for(lambda: st.done or self._closed, timeout):
                raise TimeoutError("h2 stream timed out")
            if not st.done and self._closed:
                raise ConnectionError("h2 connection closed")

    def _read_loop(self) -> None:
        try:
            while True:
                ftype, flags, sid, payload = read_frame(self._sock)
                if ftype == SETTINGS:
                    if not flags & FLAG_ACK:
                        for off in range(0, len(payload) - 5, 6):
                            ident, value = struct.unpack_from(">HI", payload, off)
                            if ident == SETTINGS_INITIAL_WINDOW_SIZE:
                                with self._flow:
                                    delta = value - self._peer_initial_window
                                    self._peer_initial_window = value
                                    for s_ in self._streams.values():
                                        s_.send_window += delta
                                    self._flow.notify_all()
                            elif ident == SETTINGS_MAX_FRAME_SIZE:
                                self._peer_max_frame = max(
                                    MAX_FRAME_SIZE, min(value, (1 << 24) - 1)
                                )
                        self._write(pack_frame(SETTINGS, FLAG_ACK, 0, b""))
                elif ftype == WINDOW_UPDATE:
                    inc = int.from_bytes(payload[:4], "big") & 0x7FFFFFFF
                    with self._flow:
                        if sid == 0:
                            self._send_window += inc
                        else:
                            s_ = self._streams.get(sid)
                            if s_ is not None:
                                s_.send_window += inc
                        self._flow.notify_all()
                elif ftype == HEADERS:
                    payload = _strip_padding(flags, payload)
                    if flags & FLAG_PRIORITY:
                        payload = payload[5:]
                    self._header_sid = sid
                    self._header_block = bytearray(payload)
                    self._header_end_stream = bool(flags & FLAG_END_STREAM)
                    if flags & FLAG_END_HEADERS:
                        self._finish_headers()
                elif ftype == CONTINUATION:
                    self._header_block += payload
                    if flags & FLAG_END_HEADERS:
                        self._finish_headers()
                elif ftype == DATA:
                    st = self._streams.get(sid)
                    data = _strip_padding(flags, payload)
                    if st is not None:
                        with st.cond:
                            st.data += data
                    if payload:
                        # batched replenishment, mirroring the server
                        self._recv_pending += len(payload)
                        n = self._recv_pending_stream.get(sid, 0) + len(payload)
                        self._recv_pending_stream[sid] = n
                        out = b""
                        if self._recv_pending >= WINDOW_UPDATE_BATCH:
                            out += pack_frame(
                                WINDOW_UPDATE, 0, 0,
                                struct.pack(">I", self._recv_pending))
                            self._recv_pending = 0
                        if (n >= WINDOW_UPDATE_BATCH
                                and not flags & FLAG_END_STREAM):
                            out += pack_frame(
                                WINDOW_UPDATE, 0, sid, struct.pack(">I", n))
                            self._recv_pending_stream[sid] = 0
                        if out:
                            self._write(out)
                    if flags & FLAG_END_STREAM:
                        self._recv_pending_stream.pop(sid, None)
                        self._end_stream(sid)
                elif ftype == PING:
                    if not flags & FLAG_ACK:
                        self._write(pack_frame(PING, FLAG_ACK, 0, payload))
                elif ftype == RST_STREAM:
                    self._end_stream(sid)
                elif ftype == GOAWAY:
                    return
        except (ConnectionError, OSError, ValueError):
            pass
        finally:
            self._closed = True
            with self._flow:
                self._flow.notify_all()  # wake request() senders
            for st in list(self._streams.values()):
                with st.cond:
                    st.cond.notify_all()

    def _finish_headers(self) -> None:
        sid = self._header_sid
        decoded = self._decoder.decode(bytes(self._header_block))
        self._header_block = bytearray()
        self._header_sid = None
        st = self._streams.get(sid)
        if st is None:
            return
        with st.cond:
            if st.headers is None:
                st.headers = decoded
            else:
                st.trailers = decoded
        if self._header_end_stream:
            self._end_stream(sid)
        self._header_end_stream = False

    def _end_stream(self, sid: int) -> None:
        # pop: callers hold their own H2ClientStream reference, and a
        # long-lived channel must not accumulate finished-stream state
        st = self._streams.pop(sid, None)
        self._recv_pending_stream.pop(sid, None)
        if st is None:
            return
        with st.cond:
            st.done = True
            st.cond.notify_all()

    def close(self) -> None:
        self._closed = True
        try:
            self._sock.close()
        except OSError:
            pass
