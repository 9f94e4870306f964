"""TCP pub/sub gateway (O17) + keepalive (O24): push framed CDC events
to subscribed clients.

Reference parity — the subscribe service (src/services/subscribe/):

- Wire frame (library/service/util.go:24-50): 4-byte little-endian
  length ``len(payload)+2``, 2-byte little-endian command, payload.
- Commands (subscribe/config.go:13-24): SET_PRO=0, AUTH=1, ERROR=2,
  TICK=3, EVENT=4, AGENT=5, STOP=6, RELOAD=7, SHOW_MEMBERS=8, POS=9.
- Subscribe handshake (subscribe/node.go:113-168): client sends
  CMD_SET_PRO whose payload leads with a flag byte — FlagSetPro(0)
  registers ``payload[1:]`` as a topic (trimmed, lowercased, deduped;
  node.go:44-53) and the server acks ``Pack(SET_PRO, "ok")``;
  FlagPing(1) acks then closes (a liveness probe, client/tcp.go:293).
- Event push (subscribe/groups.go:41-51): an event for ``db.table``
  goes to every client whose topic list regex-matches it; empty topic
  list matches everything (library/service/util.go:9-22 — the same
  semantics as envelope.match_filters / O12).
- Keepalive (subscribe/tcp.go:230-245): the server broadcasts
  ``Pack(TICK, "ok")`` to every client every 3 s regardless of topics;
  clients may send CMD_TICK and get the same frame back.
- Backpressure (subscribe/node.go:18,77-92): per-client bounded send
  queue of 10 000 frames. Divergence, documented: on a full queue the
  reference busy-waits the producer forever; we block up to
  ``full_timeout`` then evict the client — the same terminal state its
  30 s write deadline reaches, without ever stalling the micro-batch.

Spark posture: the gateway is a driver-side fan-out fed by
``foreachBatch`` (``subscribe_route_writer``). That is not a scale
compromise — push-TCP delivery is inherently a single-gateway concern
and the reference is likewise one process; at cluster scale the Kafka
route is the fan-out path and this gateway serves interactive tails.
Per-batch work is bounded by the trigger (O18), streamed through
``toLocalIterator`` so the driver never holds a whole batch of
payloads, and ordered by ``event_index`` so each connection observes
binlog order (O10/O19).
"""

from __future__ import annotations

import logging
import queue
import re
import socket
import threading
import time
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wing_binlog_go_spark.functions.envelope import envelope_json

logger = logging.getLogger(__name__)

# subscribe/config.go:13-24
CMD_SET_PRO = 0
CMD_AUTH = 1
CMD_ERROR = 2
CMD_TICK = 3
CMD_EVENT = 4
CMD_AGENT = 5
CMD_STOP = 6
CMD_RELOAD = 7
CMD_SHOW_MEMBERS = 8
CMD_POS = 9
_KNOWN_CMDS = frozenset(range(10))

# subscribe/config.go:31-34
FLAG_SET_PRO = 0
FLAG_PING = 1

TICK_OK = None  # initialized after pack() below
SET_PRO_OK = None


def pack(cmd: int, payload: bytes) -> bytes:
    """Frame a message (library/service/util.go:24-38): the recorded
    length covers cmd + payload, so total frame = 4 + clen bytes."""
    clen = len(payload) + 2
    return (
        clen.to_bytes(4, "little")
        + cmd.to_bytes(2, "little")
        + payload
    )


TICK_OK = pack(CMD_TICK, b"ok")
SET_PRO_OK = pack(CMD_SET_PRO, b"ok")


#: Largest accepted frame payload. The length field is attacker-
#: controlled on a listening socket: without a cap a single bogus
#: header (clen up to ~4 GiB) would buffer unboundedly in memory.
MAX_FRAME_LEN = 16 << 20


class FrameError(ValueError):
    """Unrecoverable wire-protocol violation; callers close the
    connection (there is no way to resynchronize the stream)."""


class FrameParser:
    """Incremental frame splitter (util.go:41-50 / node.go:116-146).

    ``feed`` returns complete ``(cmd, payload)`` tuples; partial frames
    stay buffered. An unknown command yields ``(cmd, None)`` and resets
    the buffer, exactly as the reference discards its recvBuf.

    The declared length is validated BEFORE use: ``clen < 2`` cannot
    even hold the 2 command bytes — consuming them anyway would read
    past the declared frame and desynchronize every later frame — and
    ``clen > MAX_FRAME_LEN`` is a memory-exhaustion vector. Both raise
    ``FrameError``; the only safe response is to drop the connection.
    """

    def __init__(self) -> None:
        self._buf = bytearray()

    def feed(self, data: bytes) -> list[tuple[int, bytes | None]]:
        self._buf.extend(data)
        out: list[tuple[int, bytes | None]] = []
        while len(self._buf) >= 4:
            clen = int.from_bytes(self._buf[:4], "little")
            if clen < 2 or clen > MAX_FRAME_LEN:
                raise FrameError(
                    f"frame length {clen} outside [2, {MAX_FRAME_LEN}]"
                )
            if len(self._buf) < clen + 4:
                break
            cmd = int.from_bytes(self._buf[4:6], "little")
            if cmd not in _KNOWN_CMDS:
                out.append((cmd, None))
                self._buf.clear()
                break
            out.append((cmd, bytes(self._buf[6 : clen + 4])))
            del self._buf[: clen + 4]
        return out


def match_topics(topics: list[str], table: str) -> bool:
    """Empty ⇒ all; else OR of unanchored regex search on the lowercased
    subject (library/service/util.go:9-22; same contract as the
    column-side envelope.match_filters)."""
    if not topics:
        return True
    subject = table.lower()
    for t in topics:
        try:
            if re.search(t, subject):
                return True
        except re.error:
            continue  # a bad pattern matches nothing, as in Go
    return False


class _ClientNode:
    """One connection: reader thread + sender thread over a bounded
    queue (subscribe/node.go:16-35)."""

    def __init__(self, server: "SubscribeServer", conn: socket.socket, addr):
        self.server = server
        self.conn = conn
        self.addr = addr
        self.topics: list[str] = []
        self.send_queue: queue.Queue[bytes | None] = queue.Queue(
            maxsize=server.max_send_queue
        )
        self.connect_time = time.time()
        self.online = True
        self._lock = threading.Lock()
        # Serializes socket writes: the ping ack is sent from the READER
        # thread while _send_loop may be mid-sendall of a keepalive or
        # event frame — unserialized, the two writes can interleave
        # INSIDE a frame and corrupt the client's stream.
        self._write_lock = threading.Lock()
        self._parser = FrameParser()
        self._reader = threading.Thread(target=self._read_loop, daemon=True)
        self._sender = threading.Thread(target=self._send_loop, daemon=True)
        self._reader.start()
        self._sender.start()

    # -- lifecycle ---------------------------------------------------
    def close(self) -> None:
        with self._lock:
            if not self.online:
                return
            self.online = False
        try:
            self.conn.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        self.conn.close()
        # wake the sender so it can exit (channel close in the reference)
        try:
            self.send_queue.put_nowait(None)
        except queue.Full:
            pass
        self.server._remove(self)

    # -- outbound ----------------------------------------------------
    def async_send(self, frame: bytes) -> None:
        """Enqueue; a queue full past ``full_timeout`` evicts the client
        (divergence from the reference's producer busy-wait — see module
        docstring)."""
        if not self.online:
            return
        try:
            self.send_queue.put(frame, timeout=self.server.full_timeout)
        except queue.Full:
            logger.warning("subscribe client %s queue full; evicting", self.addr)
            self.close()

    def _send_loop(self) -> None:
        try:
            self.conn.settimeout(self.server.write_timeout)  # node.go:185
        except OSError:  # closed before the sender thread got scheduled
            return
        while self.online:
            try:
                frame = self.send_queue.get(timeout=0.5)
            except queue.Empty:
                continue
            if frame is None:
                return
            # Coalesce whatever else is already queued into one write
            # (up to ~256 KiB): under fan-out load the per-frame
            # syscall, not the copy, is the throughput ceiling — one
            # sendall for k frames is ~k× fewer syscalls. Frames are
            # length-prefixed, so concatenation preserves the protocol.
            chunks = [frame]
            size = len(frame)
            while size < (1 << 18):
                try:
                    nxt = self.send_queue.get_nowait()
                except queue.Empty:
                    break
                if nxt is None:  # close sentinel: flush, then exit
                    try:
                        self.send_queue.put_nowait(None)
                    except queue.Full:
                        pass  # close() already cleared self.online
                    break
                chunks.append(nxt)
                size += len(nxt)
            try:
                with self._write_lock:
                    self.conn.sendall(b"".join(chunks))
            except OSError as exc:
                logger.debug("subscribe send to %s failed: %s", self.addr, exc)
                self.close()
                return

    # -- inbound (node.go:97-168) ------------------------------------
    def _read_loop(self) -> None:
        while self.online:
            try:
                data = self.conn.recv(1024)
            except TimeoutError:
                # the write deadline set by _send_loop is socket-WIDE in
                # Python (unlike Go's SetWriteDeadline, node.go:185): a
                # recv timeout here just means the client sent nothing
                # for write_timeout seconds — which is allowed (clients
                # MAY tick, they don't have to). Evicting would cut off
                # every passive, healthy subscriber each 30 s.
                continue
            except OSError:
                break
            if not data:
                break
            try:
                frames = self._parser.feed(data)
            except FrameError as exc:
                logger.warning(
                    "subscribe client %s protocol violation (%s); closing",
                    self.addr,
                    exc,
                )
                break
            for cmd, payload in frames:
                if payload is None:
                    self.async_send(
                        pack(
                            CMD_ERROR,
                            b"tcp service does not support cmd: %d" % cmd,
                        )
                    )
                elif cmd == CMD_SET_PRO:
                    self._on_set_pro(payload)
                elif cmd == CMD_TICK:
                    self.async_send(TICK_OK)
                else:
                    self.async_send(
                        pack(
                            CMD_ERROR,
                            b"tcp service does not support cmd: %d" % cmd,
                        )
                    )
        self.close()

    def _on_set_pro(self, payload: bytes) -> None:
        if not payload:
            self.close()
            return
        flag, content = payload[0], payload[1:]
        if flag == FLAG_SET_PRO:
            # register BEFORE acking (node.go:44-53 then :160): once the
            # client sees the ack its filter must already be in force,
            # otherwise events racing the ack bypass the topic filter
            topic = content.decode("utf-8", "replace").strip().lower()
            if topic and topic not in self.topics:
                self.topics.append(topic)
            self.async_send(SET_PRO_OK)
        elif flag == FLAG_PING:
            # liveness probe: ack synchronously (under the write lock so
            # it can't interleave inside a frame _send_loop is writing),
            # then hang up
            try:
                with self._write_lock:
                    self.conn.sendall(SET_PRO_OK)
            except OSError:
                pass
            self.close()
        else:
            self.close()


class SubscribeServer:
    """The push gateway: accept loop + keepalive ticker + topic fan-out."""

    def __init__(
        self,
        host: str = "127.0.0.1",
        port: int = 0,
        keepalive_sec: float = 3.0,  # subscribe/tcp.go:243
        max_send_queue: int = 10_000,  # subscribe/config.go:27
        full_timeout: float = 5.0,
        write_timeout: float = 30.0,  # node.go:185
    ):
        self.keepalive_sec = keepalive_sec
        self.max_send_queue = max_send_queue
        self.full_timeout = full_timeout
        self.write_timeout = write_timeout
        self._nodes: list[_ClientNode] = []
        self._lock = threading.Lock()
        self._closed = False
        self._listener = socket.create_server((host, port))
        self.address = self._listener.getsockname()[:2]
        threading.Thread(target=self._accept_loop, daemon=True).start()
        threading.Thread(target=self._keepalive_loop, daemon=True).start()

    # -- fan-out (groups.go:41-51) ------------------------------------
    def send_all(self, table: str, data: bytes) -> bool:
        """Push one event payload to every client subscribed to
        ``table`` (``db.table``). Packing happens once per event, not
        per client (tcp.go:118-132)."""
        if self._closed:
            return False
        frame = pack(CMD_EVENT, data)
        with self._lock:
            nodes = list(self._nodes)
        for node in nodes:
            if match_topics(node.topics, table):
                node.async_send(frame)
        return True

    def members(self) -> list[dict]:
        """Connection inventory (what the reference exports to Consul
        KV for least-connections LB, subscribe/service.go:132-224)."""
        with self._lock:
            return [
                {
                    "addr": "%s:%d" % node.addr[:2],
                    "topics": list(node.topics),
                    "queued": node.send_queue.qsize(),
                    "connect_time": node.connect_time,
                }
                for node in self._nodes
            ]

    def close(self) -> None:
        if self._closed:
            return
        self._closed = True
        self._listener.close()
        with self._lock:
            nodes = list(self._nodes)
        for node in nodes:
            node.close()

    # -- internals ----------------------------------------------------
    def _remove(self, node: _ClientNode) -> None:
        with self._lock:
            if node in self._nodes:
                self._nodes.remove(node)

    def _accept_loop(self) -> None:
        while not self._closed:
            try:
                conn, addr = self._listener.accept()
            except OSError:
                return
            conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            with self._lock:
                node = _ClientNode(self, conn, addr)
                accepted = not self._closed
                if accepted:
                    self._nodes.append(node)
            if not accepted:
                # close() snapshotted _nodes before we appended: a
                # connection accepted concurrently with shutdown would
                # otherwise keep two live threads + a socket forever.
                # Closed OUTSIDE the lock (close → _remove retakes it).
                node.close()

    def _keepalive_loop(self) -> None:
        # broadcast to every client regardless of topics (tcp.go:230-245
        # routes the tick through groups.asyncSend, not sendAll)
        while not self._closed:
            time.sleep(self.keepalive_sec)
            with self._lock:
                nodes = list(self._nodes)
            for node in nodes:
                node.async_send(TICK_OK)


class SubscribeClient:
    """Blocking client for the gateway protocol — the reference ships
    one too (src/library/client/tcp.go; 5 s client-side ticks are the
    caller's loop). Used by the tests and usable as a tail consumer."""

    def __init__(self, host: str, port: int, timeout: float = 5.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._parser = FrameParser()
        self._frames: list[tuple[int, bytes | None]] = []
        self._pending_events: list[bytes | None] = []

    def subscribe(self, topic: str) -> None:
        """CMD_SET_PRO + FlagSetPro + topic; returns after the ack."""
        self.sock.sendall(
            pack(CMD_SET_PRO, bytes([FLAG_SET_PRO]) + topic.encode("utf-8"))
        )
        cmd, payload = self._recv_skipping_ticks()
        if cmd != CMD_SET_PRO or payload != b"ok":
            raise ConnectionError(f"subscribe not acked: {cmd} {payload!r}")

    def tick(self) -> None:
        self.sock.sendall(pack(CMD_TICK, b""))

    def ping(self) -> bool:
        """FlagPing liveness probe: server acks and closes."""
        self.sock.sendall(pack(CMD_SET_PRO, bytes([FLAG_PING])))
        cmd, payload = self._recv_skipping_ticks()
        return cmd == CMD_SET_PRO and payload == b"ok"

    def _recv_skipping_ticks(self) -> tuple[int, bytes | None]:
        # ticks AND events may interleave with any ack: a just-connected
        # client has empty topics (match-all, reference semantics), so a
        # busy server can push CMD_EVENT frames ahead of the SET_PRO
        # ack. Buffer those for events() instead of failing the ack.
        while True:
            cmd, payload = self.recv_frame()
            if cmd == CMD_TICK:
                continue
            if cmd == CMD_EVENT:
                self._pending_events.append(payload)
                continue
            return cmd, payload

    def recv_frame(self, timeout: float | None = None) -> tuple[int, bytes | None]:
        if timeout is not None:
            self.sock.settimeout(timeout)
        while not self._frames:
            data = self.sock.recv(4096)
            if not data:
                raise ConnectionError("gateway closed the connection")
            self._frames.extend(self._parser.feed(data))
        return self._frames.pop(0)

    def events(self, n: int, timeout: float = 10.0) -> list[bytes]:
        """Collect the next ``n`` CMD_EVENT payloads, skipping ticks."""
        out: list[bytes] = []
        while self._pending_events and len(out) < n:
            p = self._pending_events.pop(0)  # buffered during an ack wait
            if p is not None:
                out.append(p)
        deadline = time.monotonic() + timeout
        while len(out) < n:
            left = deadline - time.monotonic()
            if left <= 0:
                raise TimeoutError(f"got {len(out)}/{n} events")
            cmd, payload = self.recv_frame(timeout=left)
            if cmd == CMD_EVENT and payload is not None:
                out.append(payload)
        return out

    def close(self) -> None:
        self.sock.close()


def subscribe_route_writer(
    server: SubscribeServer,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: envelope batch → gateway fan-out (the
    reference's binlog→subscribe hand-off, src/library/binlog/
    handler.go:83 → subscribe/tcp.go:118).

    Events stream through ``toLocalIterator`` ordered by event_index, so
    driver memory is one-partition bounded and every connection observes
    binlog order; batch size itself is bounded by the trigger (O18)."""

    def write(env: DataFrame, batch_id: int) -> None:
        rows = (
            env.orderBy("event_index")
            .select(
                F.concat_ws(".", "database", "table").alias("t"),
                envelope_json().alias("p"),
            )
            .toLocalIterator()
        )
        for row in rows:
            server.send_all(row.t, row.p.encode("utf-8"))

    return write


class ControlTcpServer:
    """Framed-TCP admin endpoint (O23 wire form): CMD_STOP / CMD_RELOAD
    / CMD_SHOW_MEMBERS / CMD_TICK over the same protocol
    (src/library/control/control.go:10-77, node.go:74-116).

    The handlers are injected — in production they are the
    ``ControlPlane`` methods (stop_all / reload / members), so the wire
    protocol and the Spark management substrate stay decoupled."""

    def __init__(
        self,
        stop: Callable[[], None],
        reload: Callable[[str], None],
        show_members: Callable[[], str],
        host: str = "127.0.0.1",
        port: int = 0,
    ):
        self._stop = stop
        self._reload = reload
        self._show_members = show_members
        self._closed = False
        self._listener = socket.create_server((host, port))
        self.address = self._listener.getsockname()[:2]
        threading.Thread(target=self._accept_loop, daemon=True).start()

    def _accept_loop(self) -> None:
        while not self._closed:
            try:
                conn, _addr = self._listener.accept()
            except OSError:
                return
            threading.Thread(
                target=self._serve, args=(conn,), daemon=True
            ).start()

    def _serve(self, conn: socket.socket) -> None:
        parser = FrameParser()
        with conn:
            while not self._closed:
                try:
                    data = conn.recv(1024)
                except OSError:
                    return
                if not data:
                    return
                try:
                    frames = parser.feed(data)
                except FrameError as exc:
                    logger.warning("control client protocol violation: %s", exc)
                    return
                for cmd, payload in frames:
                    try:
                        self._dispatch(conn, cmd, payload)
                    except OSError:
                        return

    def _dispatch(self, conn: socket.socket, cmd: int, payload: bytes | None):
        # control/node.go:95-116: each command acks with its own cmd
        if cmd == CMD_TICK:
            conn.sendall(TICK_OK)
        elif cmd == CMD_STOP:
            self._stop()
            conn.sendall(pack(CMD_STOP, b"ok"))
        elif cmd == CMD_RELOAD:
            self._reload((payload or b"").decode("utf-8", "replace"))
            conn.sendall(pack(CMD_RELOAD, b"ok"))
        elif cmd == CMD_SHOW_MEMBERS:
            members = self._show_members()
            conn.sendall(pack(CMD_SHOW_MEMBERS, members.encode("utf-8")))
        else:
            conn.sendall(
                pack(CMD_ERROR, b"tcp service does not support cmd: %d" % (cmd or 0))
            )

    def close(self) -> None:
        self._closed = True
        self._listener.close()
