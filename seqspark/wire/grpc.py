"""gRPC-over-HTTP/2 protocol layer — pure stdlib.

Implements the public gRPC HTTP/2 protocol
(https://github.com/grpc/grpc/blob/master/doc/PROTOCOL-HTTP2.md) on top
of :mod:`seqspark.wire.h2` + :mod:`seqspark.wire.pb`:

- length-prefixed message framing (1-byte compressed flag + 4-byte BE
  length);
- response = HEADERS(:status 200, content-type application/grpc) +
  DATA messages + trailers (grpc-status / grpc-message, percent-encoded);
- trailers-only error responses;
- unary and server-streaming methods (the two shapes
  `api/seqproxyapi/v1/seq_proxy_api.proto` uses).

Status codes follow the public gRPC numbering (OK=0, INVALID_ARGUMENT=3,
NOT_FOUND=5, RESOURCE_EXHAUSTED=8, UNIMPLEMENTED=12, INTERNAL=13) — the
same codes the reference maps its errors to in `proxyapi/grpc_v1.go`.
"""

from __future__ import annotations

import struct
import urllib.parse
from typing import Callable, Dict, Iterable, Iterator, List, Optional, Tuple

from . import pb
from .h2 import H2Client, H2Server

OK = 0
UNKNOWN = 2
INVALID_ARGUMENT = 3
DEADLINE_EXCEEDED = 4
NOT_FOUND = 5
RESOURCE_EXHAUSTED = 8
UNIMPLEMENTED = 12
INTERNAL = 13
UNAVAILABLE = 14

#: grpc-timeout header units -> seconds (gRPC HTTP/2 protocol spec)
_TIMEOUT_UNITS = {"H": 3600.0, "M": 60.0, "S": 1.0, "m": 1e-3,
                  "u": 1e-6, "n": 1e-9}


def parse_grpc_timeout(value: str) -> Optional[float]:
    """``grpc-timeout`` header ("100m", "30S", ...) -> seconds, or None
    if malformed (the spec says at most 8 digits + one unit char)."""
    if not value or len(value) > 9:
        return None
    unit = _TIMEOUT_UNITS.get(value[-1])
    if unit is None or not value[:-1].isdigit():
        return None
    return int(value[:-1]) * unit


class GrpcError(Exception):
    def __init__(self, code: int, message: str = ""):
        super().__init__(f"grpc-status {code}: {message}")
        self.code = code
        self.message = message


def frame_message(payload: bytes) -> bytes:
    return b"\x00" + struct.pack(">I", len(payload)) + payload


#: inflate bound per compressed message — gzip reaches ~1000:1, so an
#: unbounded decompress of a body that passed the transport's size cap
#: could still exhaust memory (same bomb-guard discipline as the PNG
#: decoder's bounded inflate)
MAX_DECOMPRESSED_MESSAGE = 16 << 20


def iter_messages(body: bytes, encoding: str = "identity") -> Iterator[bytes]:
    """Length-prefixed gRPC messages; a set compressed flag decompresses
    per the request's ``grpc-encoding`` (gzip via stdlib, inflate bounded
    against decompression bombs; anything else is UNIMPLEMENTED, which
    the protocol lets a server declare)."""
    import zlib as _zlib

    pos = 0
    while pos < len(body):
        if pos + 5 > len(body):
            raise GrpcError(INTERNAL, "truncated gRPC frame header")
        compressed = body[pos]
        length = struct.unpack_from(">I", body, pos + 1)[0]
        pos += 5
        if pos + length > len(body):
            raise GrpcError(INTERNAL, "truncated gRPC message")
        msg = body[pos : pos + length]
        pos += length
        if compressed:
            if encoding != "gzip":
                raise GrpcError(
                    UNIMPLEMENTED,
                    f"compressed message with grpc-encoding {encoding!r}",
                )
            try:
                d = _zlib.decompressobj(wbits=31)  # gzip wrapper
                out = d.decompress(msg, MAX_DECOMPRESSED_MESSAGE)
                if d.unconsumed_tail:
                    raise GrpcError(
                        RESOURCE_EXHAUSTED,
                        "decompressed message exceeds "
                        f"{MAX_DECOMPRESSED_MESSAGE} bytes",
                    )
                msg = out
            except _zlib.error as e:
                raise GrpcError(INTERNAL, f"bad gzip message: {e}") from None
        yield msg


def _quote_message(msg: str) -> str:
    # percent-encode per gRPC spec: spaces and non-printable/% escaped
    return urllib.parse.quote(msg, safe=" !#$&'()*+,-./:;<=>?@[]^_`{|}~")


def _unquote_message(msg: str) -> str:
    return urllib.parse.unquote(msg)


class Method:
    """One RPC: request/response descriptors + handler.

    ``fn(request_dict, metadata_dict) -> response_dict`` for unary
    methods, ``fn(request_dict, metadata_dict) -> iterable of response
    dicts`` when ``server_streaming`` — mirroring the two shapes of the
    proto. ``metadata_dict`` carries the request headers (e.g. the
    reference's ``use-seq-ql`` dialect key, `storeapi/grpc_search.go:
    206-216`).
    """

    __slots__ = ("fn", "request", "response", "server_streaming")

    def __init__(self, fn, request: dict, response: dict,
                 server_streaming: bool = False):
        self.fn = fn
        self.request = request
        self.response = response
        self.server_streaming = server_streaming


class GrpcServer:
    """gRPC server over h2c: ``methods`` maps full paths
    (``/seqproxyapi.v1.SeqProxyApi/Search``) to :class:`Method`."""

    def __init__(self, methods: Dict[str, Method],
                 host: str = "127.0.0.1", port: int = 0,
                 tls_cert: Optional[str] = None,
                 tls_key: Optional[str] = None):
        self._methods = methods
        self._host = host
        self._requested_port = port
        self._tls = (tls_cert, tls_key)
        # the listener binds at start(), not construction: the HTTP
        # gateway routes construct a GrpcServer purely to reuse its
        # handlers, and an eagerly-bound never-accepted socket would
        # leak an fd and hang any client that connected to it
        self._h2: Optional[H2Server] = None
        self.port: Optional[int] = None

    def start(self) -> "GrpcServer":
        if self._h2 is None:
            self._h2 = H2Server(
                self._handle, host=self._host, port=self._requested_port,
                tls_cert=self._tls[0], tls_key=self._tls[1],
            )
            self.port = self._h2.port
        self._h2.start()
        return self

    def stop(self) -> None:
        if self._h2 is not None:
            self._h2.stop()

    # ---------------------------------------------------------------- app

    @staticmethod
    def _trailers_only(code: int, message: str):
        headers = [
            (":status", "200"),
            ("content-type", "application/grpc"),
            ("grpc-status", str(code)),
            ("grpc-message", _quote_message(message)),
        ]
        return headers, None, []

    def _handle(self, headers: List[Tuple[str, str]], body: bytes):
        hmap = {name: value for name, value in headers}
        path = hmap.get(":path", "")
        if hmap.get(":method") != "POST":
            return self._trailers_only(INTERNAL, "gRPC requires POST")
        ctype = hmap.get("content-type", "")
        if not ctype.startswith("application/grpc"):
            return self._trailers_only(INTERNAL, f"bad content-type {ctype!r}")
        method = self._methods.get(path)
        if method is None:
            return self._trailers_only(
                UNIMPLEMENTED, f"unknown method {path!r}"
            )
        enc = hmap.get("grpc-encoding", "identity")
        if enc not in ("identity", "gzip"):
            return self._trailers_only(
                UNIMPLEMENTED, f"grpc-encoding {enc!r} not supported"
            )
        # deadline: without cooperative cancellation the check runs after
        # the handler — a client that set grpc-timeout has already given
        # up, and the spec requires the server to report
        # DEADLINE_EXCEEDED rather than a stale OK
        import time as _time

        timeout = parse_grpc_timeout(hmap.get("grpc-timeout", ""))
        # `is not None`: a grpc-timeout of 0 means already-expired, not
        # no-deadline (gRPC spec semantics)
        deadline = _time.monotonic() + timeout if timeout is not None else None
        try:
            payloads = list(iter_messages(body, enc))
            request = pb.decode(method.request, payloads[0] if payloads else b"")
        except GrpcError as e:
            return self._trailers_only(e.code, e.message)
        except Exception as e:
            return self._trailers_only(INTERNAL, f"decode error: {e}")

        resp_headers = [(":status", "200"), ("content-type", "application/grpc")]
        if deadline is not None and _time.monotonic() > deadline:
            # already expired (e.g. grpc-timeout: 0S) — never invoke the
            # handler, unary or streaming alike
            return self._trailers_only(
                DEADLINE_EXCEEDED, "deadline exceeded before response"
            )
        if method.server_streaming:
            def chunks():
                for msg in method.fn(request, hmap):
                    yield frame_message(pb.encode(method.response, msg))

            # the generator is built lazily inside the h2 writer; handler
            # errors raised MID-stream surface as RST (h2 layer) — errors
            # raised before the first yield still become clean trailers
            try:
                gen = chunks()
                first = next(gen, None)
            except GrpcError as e:
                return self._trailers_only(e.code, e.message)
            except ValueError as e:
                return self._trailers_only(INVALID_ARGUMENT, str(e))
            except KeyError as e:
                return self._trailers_only(NOT_FOUND, str(e.args[0]))
            except Exception as e:
                return self._trailers_only(INTERNAL, str(e))

            # trailers are a MUTABLE list: the h2 writer encodes them only
            # after the chunk iterator drains, so a deadline hit mid-stream
            # rewrites them to DEADLINE_EXCEEDED — a stream that outlives
            # grpc-timeout must not end with a stale OK (gRPC spec), which
            # the unary branch already enforced
            trailers = [("grpc-status", "0"), ("grpc-message", "")]

            def expired() -> bool:
                if deadline is not None and _time.monotonic() > deadline:
                    trailers[:] = [
                        ("grpc-status", str(DEADLINE_EXCEEDED)),
                        ("grpc-message", "deadline exceeded during stream"),
                    ]
                    return True
                return False

            def all_chunks():
                try:
                    if first is not None:
                        if expired():
                            return
                        yield first
                    for c in gen:
                        if expired():
                            return
                        yield c
                finally:
                    gen.close()

            return resp_headers, all_chunks(), trailers
        try:
            response = method.fn(request, hmap)
        except GrpcError as e:
            return self._trailers_only(e.code, e.message)
        except ValueError as e:
            return self._trailers_only(INVALID_ARGUMENT, str(e))
        except KeyError as e:
            return self._trailers_only(NOT_FOUND, str(e.args[0]))
        except Exception as e:
            return self._trailers_only(INTERNAL, str(e))
        if deadline is not None and _time.monotonic() > deadline:
            return self._trailers_only(
                DEADLINE_EXCEEDED, "deadline exceeded before response"
            )
        data = frame_message(pb.encode(method.response, response))
        return resp_headers, [data], [("grpc-status", "0"), ("grpc-message", "")]


class GrpcChannel:
    """Client channel over one h2 connection (multiplexed streams) —
    cleartext by default, TLS+ALPN when ``tls_ca`` is given (a PEM
    bundle, or ``True`` for the system trust store)."""

    def __init__(self, host: str, port: int, timeout: float = 120.0,
                 tls_ca=None, server_hostname: Optional[str] = None):
        self._client = H2Client(
            host, port, tls_ca=tls_ca, server_hostname=server_hostname
        )
        self._authority = f"{host}:{port}"
        self._timeout = timeout

    def close(self) -> None:
        self._client.close()

    @property
    def closed(self) -> bool:
        """The connection is gone: every later call on it fails."""
        return self._client._closed

    def _call(self, path: str, request: dict, req_desc: dict,
              metadata: Optional[List[Tuple[str, str]]] = None) -> "H2ClientStream":
        headers = [
            (":method", "POST"),
            (":scheme", "http"),
            (":path", path),
            (":authority", self._authority),
            ("content-type", "application/grpc"),
            ("te", "trailers"),
        ] + list(metadata or [])
        body = frame_message(pb.encode(req_desc, request))
        return self._client.request(headers, body)

    @staticmethod
    def _status_of(st) -> Tuple[int, str]:
        source = st.trailers if st.trailers is not None else (st.headers or [])
        hmap = {k: v for k, v in source}
        code = int(hmap.get("grpc-status", str(INTERNAL)))
        return code, _unquote_message(hmap.get("grpc-message", ""))

    def unary(self, path: str, request: dict, req_desc: dict,
              resp_desc: dict,
              metadata: Optional[List[Tuple[str, str]]] = None) -> dict:
        st = self._call(path, request, req_desc, metadata)
        self._client.wait(st, self._timeout)
        code, message = self._status_of(st)
        if code != OK:
            raise GrpcError(code, message)
        msgs = list(iter_messages(bytes(st.data)))
        if not msgs:
            raise GrpcError(INTERNAL, "unary response without message")
        return pb.decode(resp_desc, msgs[0])

    def server_streaming(self, path: str, request: dict, req_desc: dict,
                         resp_desc: dict,
                         metadata: Optional[List[Tuple[str, str]]] = None) -> List[dict]:
        st = self._call(path, request, req_desc, metadata)
        self._client.wait(st, self._timeout)
        code, message = self._status_of(st)
        if code != OK:
            raise GrpcError(code, message)
        return [pb.decode(resp_desc, m) for m in iter_messages(bytes(st.data))]
