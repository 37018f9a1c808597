"""Typed ports and wiring — parity with gasket/src/messaging.rs.

The reference wires statically-typed stages over bounded tokio channels at
runtime. Here each edge is a slot-token ``_Channel``: two C-level
``queue.SimpleQueue``s, one holding the messages and one holding ``cap``
slot tokens. A sender takes a token before it puts and a receiver returns
one after it gets, so a full channel blocks the producer at exactly
``cap`` (the reference's backpressure model). A port makes one call into
its edge per send or recv, and the edge first tries a non-blocking take
(one C call); only a miss enters the timed wait that polls the stage's
dismissal. "Typed" means
an optional schema/type tag checked at connect time — the analogue of the
compile-time payload types (README.md:16), enforced at wiring ("analysis")
time like Spark checks DataFrame schemas.

Surface parity map (messaging.rs):
- Message<T>                    → Message (a slotted payload holder)
- OutputPort/InputPort          → same names; send/recv; NotConnected errors
- connect_ports (1:1, cap)      → same (messaging.rs:404-411)
- funnel_ports  (N:1)           → same (messaging.rs:413-423)
- broadcast_port (1:N tee)      → same (messaging.rs:425-436)
- Fanout (1:N distinct ports)   → same (messaging.rs:72-95)
- SinkAdapter (bounded collect) → same keep-OLDEST-cap semantics
                                  (messaging.rs:224-229: push_back/pop_back)
- TimerPort (interval ticks)    → thread-backed ticker (messaging.rs:151-209)
"""

from __future__ import annotations

import queue
import threading
import time
from typing import Any, Generic, TypeVar

T = TypeVar("T")

_SENTINEL = object()  # end-of-stream marker for graceful drain


class NotConnected(RuntimeError):
    pass


class PortTypeMismatch(TypeError):
    pass


class Message(Generic[T]):
    __slots__ = ("payload",)

    def __init__(self, payload: T):
        self.payload = payload


# The running stage's dismissal event, published per thread by
# runtime.spawn_stage. An edge blocked on its queue polls it, so a
# Daemon.teardown() interrupts a stage stuck in send/recv/close; threads
# that are not stages have none and block as before.
_stage = threading.local()


def _raise_if_dismissed(op: str) -> None:
    dismissed = getattr(_stage, "dismissed", None)
    if dismissed is not None and dismissed.is_set():
        raise NotConnected(f"stage dismissed while blocked on {op}")


def _get_until(q, deadline: float | None, op: str = "recv", poll: float = 0.1):
    """``q.get`` in waits of at most ``poll`` seconds, so a dismissed stage
    stops waiting (NotConnected); raises ``queue.Empty`` once ``deadline``
    (a ``time.monotonic()`` reading, or None for no limit) has passed."""
    while True:
        wait = poll if deadline is None else min(poll, max(0.0, deadline - time.monotonic()))
        try:
            return q.get(timeout=wait)
        except queue.Empty:
            _raise_if_dismissed(op)
            if deadline is not None and time.monotonic() >= deadline:
                raise


class _Channel:
    """Bounded FIFO edge: ``_items`` carries the messages, ``_slots`` holds
    one token per free slot. ``send`` takes a token before it puts and
    ``get`` returns one after it takes a message, so exactly ``cap`` sends
    complete with no receiver; the close sentinel takes a slot like any
    message. Both ends first try a non-blocking take; on a miss a sender
    waits for a token in 0.05 s polls and a receiver for a message in
    0.1 s polls, each checking its stage's dismissal between polls."""

    def __init__(self, cap: int):
        if cap < 1:
            raise ValueError(f"channel capacity must be at least 1, got {cap}")
        self._items: queue.SimpleQueue = queue.SimpleQueue()
        self._slots: queue.SimpleQueue = queue.SimpleQueue()
        for _ in range(cap):
            self._slots.put(None)

    def send(self, msg: Message) -> None:
        try:
            self._slots.get(False)
        except queue.Empty:
            _get_until(self._slots, None, "send", 0.05)
        self._items.put(msg)

    def get(self, timeout: float | None = None) -> Message:
        try:
            msg = self._items.get(False)
        except queue.Empty:
            msg = _get_until(self._items, None if timeout is None else time.monotonic() + timeout)
        self._slots.put(None)
        return msg

    def qsize(self) -> int:
        return self._items.qsize()


class OutputPort(Generic[T]):
    """messaging.rs:40-69: send() into every connected edge; error if not
    connected; len() exposes the deepest edge's queue depth."""

    def __init__(self, schema: Any = None):
        self.schema = schema
        self._edges: list[_Channel | _BroadcastRing] = []

    def connect(self, edge: _Channel | _BroadcastRing) -> None:
        self._edges.append(edge)

    def send(self, msg: Message | Any) -> None:
        if not isinstance(msg, Message):
            msg = Message(msg)
        if not self._edges:
            raise NotConnected("output port is not connected")
        for edge in self._edges:
            edge.send(msg)

    def close(self) -> None:
        for edge in self._edges:
            edge.send(Message(_SENTINEL))

    def __len__(self) -> int:
        return max((edge.qsize() for edge in self._edges), default=0)


class InputPort(Generic[T]):
    """messaging.rs:113-149: recv() from the connected channel."""

    def __init__(self, schema: Any = None):
        self.schema = schema
        self._q: _Channel | _RingReceiver | None = None
        self._producers = 0
        self._ended_producers = 0

    def connect(self, q: _Channel | _RingReceiver) -> None:
        if self._q is not None and self._q is not q:
            raise RuntimeError("input port already connected to a different channel")
        self._q = q
        self._producers += 1

    def recv(self, timeout: float | None = None):
        """Blocking receive. Returns the Message, or None once every
        connected producer has closed (end of stream — WorkSchedule::Done);
        raises TimeoutError after ``timeout`` seconds. Each message is one
        ``get`` on the edge, which ends the wait if the stage is dismissed."""
        edge = self._q
        if edge is None:
            raise NotConnected("input port is not connected")
        deadline = None if timeout is None else time.monotonic() + timeout
        while True:
            try:
                msg = edge.get(timeout)
            except queue.Empty:
                raise TimeoutError("recv timed out") from None
            if msg.payload is not _SENTINEL:
                return msg
            self._ended_producers += 1
            if self._ended_producers >= self._producers:
                return None
            if deadline is not None:
                timeout = max(0.0, deadline - time.monotonic())

    def __len__(self) -> int:
        return self._q.qsize() if self._q is not None else 0


def _check_types(output: OutputPort, input_: InputPort) -> None:
    if output.schema is not None and input_.schema is not None and output.schema != input_.schema:
        raise PortTypeMismatch(
            f"cannot wire port of type {output.schema!r} into {input_.schema!r}"
        )


def connect_ports(output: OutputPort, input_: InputPort, cap: int) -> None:
    """1:1 edge over a bounded channel (messaging.rs:404-411)."""
    funnel_ports([output], input_, cap)


def funnel_ports(outputs: list[OutputPort], input_: InputPort, cap: int) -> None:
    """N:1 merge: many producers share one channel (messaging.rs:413-423)."""
    channel = _Channel(cap)
    for out in outputs:
        _check_types(out, input_)
        out.connect(channel)
        input_.connect(channel)


class Lagged(RuntimeError):
    """Raised by a lagging broadcast subscriber's next recv after the
    ring wrapped past it — the analogue of tokio broadcast's
    RecvError::Lagged(n) (the reference's broadcast_port transport,
    messaging.rs:425-436): ``skipped`` messages were dropped for this
    receiver and its position jumps to the oldest retained message, so
    the recv AFTER this exception resumes delivery there."""

    def __init__(self, skipped: int):
        super().__init__(
            f"broadcast receiver lagged; skipped {skipped} messages"
        )
        self.skipped = skipped


class _BroadcastRing:
    """Fixed-cap ring shared by every subscriber: send NEVER blocks;
    overflow overwrites the oldest entry and lagging receivers observe
    Lagged on their next recv (tokio broadcast semantics).

    Index-based circular buffer: O(1) send regardless of cap, O(1)
    cursor reads. Once the end-of-stream sentinel is enqueued the ring
    is closed and further sends raise NotConnected — the sentinel is
    always the newest entry, so no later send can evict it and every
    subscriber (however lagged) eventually observes end-of-stream."""

    def __init__(self, cap: int):
        if cap < 1:
            raise ValueError(f"broadcast capacity must be at least 1, got {cap}")
        self._cap = cap
        self._buf: list[Message | None] = [None] * self._cap
        self._len = 0  # number of retained entries
        self._head = 0  # sequence number of the oldest retained entry
        self._closed = False
        self._cond = threading.Condition()

    def send(self, msg: Message) -> None:
        with self._cond:
            if self._closed:
                if msg.payload is _SENTINEL:
                    return  # repeated close() is idempotent, as in queue
                    # mode where the extra sentinel is benignly absorbed
                raise NotConnected("send on closed broadcast ring")
            if msg.payload is _SENTINEL:
                self._closed = True
            self._buf[(self._head + self._len) % self._cap] = msg
            if self._len < self._cap:
                self._len += 1
            else:
                self._head += 1
            self._cond.notify_all()

    def _at(self, seq: int) -> Message:  # caller holds _cond
        return self._buf[seq % self._cap]

    def _end(self) -> int:  # seq one past the newest; caller holds _cond
        return self._head + self._len

    def qsize(self) -> int:
        with self._cond:
            return self._len


class _RingReceiver:
    """Per-subscriber cursor into a _BroadcastRing; duck-types the
    _Channel surface InputPort.recv drives (get/qsize), including the
    dismissal poll: an empty ring is waited on in 0.1 s slices."""

    def __init__(self, ring: _BroadcastRing):
        self._ring = ring
        with ring._cond:
            self._next = ring._end()  # see messages sent after subscribe

    def get(self, timeout: float | None = None) -> Message:
        deadline = None if timeout is None else time.monotonic() + timeout
        with self._ring._cond:
            while True:
                if self._next < self._ring._head:
                    skipped = self._ring._head - self._next
                    self._next = self._ring._head
                    raise Lagged(skipped)
                if self._next < self._ring._end():
                    msg = self._ring._at(self._next)
                    self._next += 1
                    return msg
                remaining = 0.1 if deadline is None else deadline - time.monotonic()
                if remaining <= 0:
                    raise queue.Empty
                if not self._ring._cond.wait(min(remaining, 0.1)):
                    _raise_if_dismissed("recv")

    def qsize(self) -> int:
        with self._ring._cond:
            return max(0, self._ring._end() - max(self._next, self._ring._head))


def broadcast_port(
    output: OutputPort, inputs: list[InputPort], cap: int, lagged: bool = False
) -> None:
    """1:N tee: every consumer sees every message (messaging.rs:425-436).

    The reference's transport is a tokio broadcast channel: a send NEVER
    blocks — when the ring wraps past a slow consumer, that consumer
    loses the oldest messages and observes RecvError::Lagged on recv.
    The default here is a DOCUMENTED DEVIATION (VERDICT r18 #4): each
    consumer gets its own bounded blocking queue, so delivery is
    lossless but one stalled consumer backpressures the whole tee
    (pipeline-wide stall instead of bounded loss — the stall is pinned
    in tests/test_messaging.py). Pass ``lagged=True`` for
    reference-parity drop-oldest semantics: sends never block, and a
    lagging subscriber's recv raises ``Lagged(skipped)`` before
    resuming at the oldest retained message."""
    if lagged:
        ring = _BroadcastRing(cap)
        for inp in inputs:
            _check_types(output, inp)
            inp.connect(_RingReceiver(ring))
        output.connect(ring)
        return
    for inp in inputs:
        connect_ports(output, inp, cap)


class Fanout:
    """1:N over distinct output ports; NotConnected when empty
    (messaging.rs:72-95)."""

    def __init__(self, ports: list[OutputPort] | None = None):
        self._ports = list(ports or [])

    def add(self, port: OutputPort) -> None:
        self._ports.append(port)

    def send(self, msg: Message | Any) -> None:
        if not self._ports:
            raise NotConnected("fanout has no output ports")
        for p in self._ports:
            p.send(msg)


class SinkAdapter:
    """Bounded terminal buffer keeping the OLDEST ``cap`` messages
    (messaging.rs:211-253 — push_back then pop_back on overflow, i.e. new
    messages are dropped once full: df.limit(cap) semantics, not a ring)."""

    def __init__(self, cap: int):
        self._cap = cap
        self._items: list[Any] = []
        self._lock = threading.Lock()

    def send(self, msg: Message | Any) -> None:
        payload = msg.payload if isinstance(msg, Message) else msg
        with self._lock:
            if len(self._items) < self._cap:
                self._items.append(payload)

    def drain(self) -> list[Any]:
        with self._lock:
            out, self._items = self._items, []
            return out

    def __len__(self) -> int:
        return len(self._items)


class TimerPort:
    """Interval tick source (messaging.rs:151-209): a background thread
    publishes monotonic tick timestamps; lazy start; stop() cancels."""

    def __init__(self, interval: float, cap: int = 16):
        self._interval = interval
        self._q: queue.Queue = queue.Queue(maxsize=cap)
        self._thread: threading.Thread | None = None
        self._stop = threading.Event()

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            try:
                self._q.put_nowait(Message(time.monotonic()))
            except queue.Full:
                pass  # slow consumer: drop ticks, like a watch channel

    def recv(self, timeout: float | None = None) -> Message:
        """Next tick; raises ``queue.Empty`` after ``timeout`` seconds."""
        if self._thread is None:
            self._thread = threading.Thread(target=self._run, daemon=True)
            self._thread.start()
        return _get_until(self._q, None if timeout is None else time.monotonic() + timeout)

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=1.0)
