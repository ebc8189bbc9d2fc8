"""FlyQ wire-compatible TCP server (A27) over the Spark engine.

The reference's listener (flyq-server/src/server/listener.rs:16-84)
accepts connections, decodes frames, dispatches the 7 opcodes against
the shared engine, and writes response frames with the request's
correlation id. This restates that surface over ``FlyQEngine`` so a
stock FlyQ client — the reference's own flyq-client — can produce,
consume, commit, and inspect watermarks/lag/health against the Spark
log without knowing the broker moved.

Parity notes:
- one thread per connection, as the reference's per-connection task;
- DIVERGENCE (deliberate): only PRODUCE takes the server's lock. The
  reference serializes every opcode through one global engine mutex
  (types.rs:4). Our log does not need it: the engine asks for a single
  writer per topic, and its reads (CONSUME, CONSUME_WITH_GROUP,
  WATERMARK, GET_CONSUMER_LAG, GET_PARTITION_HEALTH) see a
  read-committed snapshot, bounded at the LEO of an atomically renamed
  meta over data files that never change once renamed into place (see
  the engine's concurrency contract). So reads never queue behind a
  produce, nor a produce behind reads. COMMIT_OFFSET runs under the
  engine's own commit lock, not this one;
- wire produce is KEYLESS with a server-assigned timestamp — the
  reference handler discards nothing else because the request only
  carries (topic, value) (listener.rs:89-96);
- non-Request frames are skipped (listener.rs:48-51 ``continue``);
- any decode or engine error closes the connection, exactly the
  reference's ``?`` propagation out of handle_connection — no Error
  frame is emitted because the reference never emits one. The error
  and its traceback are logged first, so it is not swallowed;
- DIVERGENCE (deliberate): consume honors the request's partition
  field. The reference hardcodes partition 0 (listener.rs:122) even
  though its own request/consume.rs ships the field — treated as one of
  the author's WIP gaps, like the client ``todo!()``s that A28 fills.
"""

from __future__ import annotations

import logging
import socket
import socketserver
import threading
import time

from flyq_spark import wire
from flyq_spark.wire import Frame, FrameType, OpCode, ProtocolError

_log = logging.getLogger(__name__)


class FlyQServer:
    """Threaded TCP front-end for a FlyQEngine. ``port=0`` picks a free
    port; ``clock_ms`` injects a deterministic produce timestamp for
    tests (defaults to wall clock, like the reference's Utc::now)."""

    def __init__(
        self,
        engine,
        host: str = "127.0.0.1",
        port: int = 0,
        clock_ms=None,
    ):
        self.engine = engine
        self._lock = threading.Lock()
        self._clock_ms = clock_ms or (lambda: int(time.time() * 1000))
        outer = self

        class _Handler(socketserver.BaseRequestHandler):
            def handle(self) -> None:  # one reference connection loop
                buf = bytearray()
                sock = self.request
                while True:
                    try:
                        chunk = sock.recv(65536)
                    except OSError:
                        return
                    if not chunk:
                        return
                    buf += chunk
                    pos = 0
                    while True:
                        try:
                            frame, pos = wire.decode_frame_at(buf, pos)
                        except ProtocolError:
                            return  # corrupt frame: close, listener.rs:46
                        if frame is None:
                            # compact ONCE per drain (cursor parsing keeps
                            # per-frame work O(frame), not O(buffer))
                            del buf[:pos]
                            break
                        if frame.frame_type != FrameType.REQUEST:
                            continue  # listener.rs:48-51
                        try:
                            op, data = wire.decode_payload(frame.payload)
                            out = outer._dispatch(op, data)
                        except Exception:
                            # engine/codec error: close, as the ? does
                            _log.exception(
                                "request %d failed; closing the connection",
                                frame.correlation_id,
                            )
                            return
                        resp = Frame(
                            wire.PROTOCOL_VERSION,
                            FrameType.RESPONSE,
                            frame.correlation_id,
                            wire.encode_payload(op, out),
                        )
                        try:
                            sock.sendall(resp.encode())
                        except OSError:
                            return

        class _Server(socketserver.ThreadingTCPServer):
            daemon_threads = True
            allow_reuse_address = True

        self._server = _Server((host, port), _Handler)
        self.host, self.port = self._server.server_address[:2]
        self._thread: threading.Thread | None = None

    # ---------------- dispatch (listener.rs:71-84) ---------------- #

    def _dispatch(self, op: OpCode, data: bytes) -> bytes:
        if op == OpCode.PRODUCE:
            req = wire.decode_produce_request(data)
            with self._lock:  # the engine's single writer
                acks = self.engine.produce(
                    req["topic"],
                    [
                        {
                            "key": None,
                            "value": req["message"],
                            "timestamp": self._clock_ms(),
                        }
                    ],
                )
            p, off = acks[0]
            return wire.encode_produce_ack(p, off)
        if op == OpCode.CONSUME:
            req = wire.decode_consume_request(data)
            row = self.engine.consume(
                req["topic"], req["partition"], req["offset"]
            )
            if row is None:
                return b""
            # the row's ACTUAL offset, not the requested one: consume
            # returns the first record at >= offset (clamped at the
            # low watermark), and a client paginating with
            # response.offset + 1 must advance past it
            return self._row_response(int(row["offset"]), row)
        if op == OpCode.CONSUME_WITH_GROUP:
            req = wire.decode_consume_with_group_request(data)
            got = self.engine.consume_with_group(
                req["topic"], req["partition"], req["group"]
            )
            if got is None:
                return b""
            _committed, row = got
            # the delivered record's actual offset (see CONSUME): a
            # client committing response.offset + 1 must move past
            # the record it just read, even across truncation gaps
            return self._row_response(int(row["offset"]), row)
        if op == OpCode.COMMIT_OFFSET:
            req = wire.decode_commit_offset_request(data)
            self.engine.commit_offset(
                req["group"], req["topic"], req["partition"], req["offset"]
            )
            return b""
        if op == OpCode.WATERMARK:
            req = wire.decode_watermark_request(data)
            low, high, leo = self.engine.get_watermark(
                req["topic"], req["partition"]
            )
            return wire.encode_watermark_response(low, high, leo)
        if op == OpCode.GET_CONSUMER_LAG:
            req = wire.decode_consumer_lag_request(data)
            topics = req["topics"]
            if topics is None:
                lag = self.engine.get_consumer_lag(req["group"])
                total, parts = lag["total_lag"], lag["partitions"]
            else:
                total, parts = 0, []
                for t in topics:
                    lag = self.engine.get_consumer_lag(req["group"], t)
                    total += lag["total_lag"]
                    parts.extend(lag["partitions"])
            return wire.encode_consumer_lag_response(
                req["group"], total, parts
            )
        if op == OpCode.GET_PARTITION_HEALTH:
            req = wire.decode_partition_health_request(data)
            h = self.engine.get_partition_health(
                req["topic"], req["partition"]
            )
            return wire.encode_partition_health_response(h)
        raise ProtocolError(f"unhandled op {op}")

    @staticmethod
    def _row_response(offset: int, row) -> bytes:
        headers = (
            [(h["key"], bytes(h["value"])) for h in row["headers"]]
            if row["headers"]
            else None
        )
        return wire.encode_consume_response(
            offset,
            bytes(row["key"]) if row["key"] is not None else None,
            bytes(row["value"]),
            int(row["timestamp"].timestamp() * 1000),
            headers,
        )

    # ---------------- lifecycle ---------------- #

    def start(self) -> tuple[str, int]:
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return self.host, self.port

    def stop(self) -> None:
        # shutdown() blocks on an event only serve_forever sets — calling
        # it without start() would deadlock forever; server_close() alone
        # releases the socket bound in __init__
        if self._thread is not None:
            self._server.shutdown()
        self._server.server_close()
        if self._thread:
            self._thread.join(timeout=5)

    def __enter__(self) -> "FlyQServer":
        self.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()


class FlyQWireClient:
    """Blocking client speaking the reference protocol — the Python
    counterpart of flyq-client/src/client.rs, usable against this server
    OR a reference broker (same bytes on the wire)."""

    def __init__(self, host: str, port: int, timeout: float = 30.0):
        self._sock = socket.create_connection((host, port), timeout=timeout)
        self._corr = 0
        self._buf = b""

    def close(self) -> None:
        self._sock.close()

    def __enter__(self) -> "FlyQWireClient":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def _call(self, op: OpCode, data: bytes) -> bytes:
        self._corr += 1
        frame = Frame(
            wire.PROTOCOL_VERSION,
            FrameType.REQUEST,
            self._corr,
            wire.encode_payload(op, data),
        )
        self._sock.sendall(frame.encode())
        buf = bytearray(self._buf)
        pos = 0
        try:
            while True:
                got, pos = wire.decode_frame_at(buf, pos)
                if got is not None:
                    if got.frame_type == FrameType.ERROR:
                        # Skip ERRORs stale from a cancelled call — but
                        # only when the broker echoed a real (nonzero)
                        # correlation id. corr 0 means "could not parse
                        # the request / no id to echo": treat as fatal
                        # for THIS call, else it would stall until the
                        # socket timeout with no diagnostic. (The
                        # reference broker sends no ERROR frames at all —
                        # it drops the connection, listener.rs:47 — so
                        # this path is third-party-broker interop only.)
                        if got.correlation_id not in (0, self._corr):
                            continue  # stale ERROR from a cancelled call
                        raise ProtocolError(
                            f"broker error frame: {got.payload!r}"
                        )
                    if got.frame_type != FrameType.RESPONSE:
                        continue  # e.g. HEARTBEAT: skip, like the server
                    if got.correlation_id != self._corr:
                        continue  # stale frame from a cancelled call
                    resp_op, resp_data = wire.decode_payload(got.payload)
                    if resp_op != op:
                        raise ProtocolError(
                            f"response op {resp_op} for request op {op}"
                        )
                    return resp_data
                del buf[:pos]
                pos = 0
                chunk = self._sock.recv(65536)
                if not chunk:
                    raise ConnectionError("server closed connection")
                buf += chunk
        finally:
            del buf[:pos]
            self._buf = bytes(buf)

    def produce(self, topic: str, message: bytes) -> tuple[int, int]:
        ack = wire.decode_produce_ack(
            self._call(OpCode.PRODUCE, wire.encode_produce_request(topic, message))
        )
        return ack["partition"], ack["offset"]

    def consume(self, topic: str, partition: int, offset: int) -> dict | None:
        return wire.decode_consume_response(
            self._call(
                OpCode.CONSUME,
                wire.encode_consume_request(topic, partition, offset),
            )
        )

    def consume_with_group(
        self, topic: str, partition: int, group: str
    ) -> dict | None:
        return wire.decode_consume_response(
            self._call(
                OpCode.CONSUME_WITH_GROUP,
                wire.encode_consume_with_group_request(topic, partition, group),
            )
        )

    def commit_offset(
        self, topic: str, partition: int, group: str, offset: int
    ) -> None:
        self._call(
            OpCode.COMMIT_OFFSET,
            wire.encode_commit_offset_request(topic, partition, group, offset),
        )

    def watermark(self, topic: str, partition: int) -> dict:
        return wire.decode_watermark_response(
            self._call(
                OpCode.WATERMARK, wire.encode_watermark_request(topic, partition)
            )
        )

    def consumer_lag(self, group: str, topics: list[str] | None = None) -> dict:
        return wire.decode_consumer_lag_response(
            self._call(
                OpCode.GET_CONSUMER_LAG,
                wire.encode_consumer_lag_request(group, topics),
            )
        )

    def partition_health(self, topic: str, partition: int) -> dict:
        return wire.decode_partition_health_response(
            self._call(
                OpCode.GET_PARTITION_HEALTH,
                wire.encode_partition_health_request(topic, partition),
            )
        )
