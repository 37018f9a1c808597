"""Port/wiring tests mirroring gasket/src/messaging.rs semantics and the
compare_inbound_sequence helper (testing.rs:3-27)."""

from __future__ import annotations

import sys
import threading

import pytest

from gasket_rs_spark.pipeline.messaging import (
    Fanout,
    InputPort,
    Lagged,
    Message,
    NotConnected,
    OutputPort,
    PortTypeMismatch,
    SinkAdapter,
    TimerPort,
    broadcast_port,
    connect_ports,
    funnel_ports,
)


def compare_inbound_sequence(port: InputPort, expected: list) -> None:
    """testing.rs:3-12: assert the port yields exactly this sequence."""
    for want in expected:
        msg = port.recv(timeout=2.0)
        assert msg is not None, f"stream ended early; expected {want!r}"
        assert msg.payload == want


def test_connect_send_recv_roundtrip():
    out, inp = OutputPort(), InputPort()
    connect_ports(out, inp, cap=4)
    for i in range(3):
        out.send(i)
    compare_inbound_sequence(inp, [0, 1, 2])


def test_send_unconnected_errors():
    with pytest.raises(NotConnected):
        OutputPort().send(1)
    with pytest.raises(NotConnected):
        InputPort().recv(timeout=0.1)


def test_type_checked_wiring():
    out, inp = OutputPort(schema="int"), InputPort(schema="str")
    with pytest.raises(PortTypeMismatch):
        connect_ports(out, inp, cap=1)


def test_backpressure_blocks_producer():
    """messaging.rs:384-391: a full bounded channel suspends send();
    exactly ``cap`` sends complete with no consumer."""
    out, inp = OutputPort(), InputPort()
    connect_ports(out, inp, cap=2)
    out.send(1)
    out.send(2)
    assert len(out) == 2 and len(inp) == 2
    done = threading.Event()

    def producer():
        out.send(3)  # must block until a recv frees space
        done.set()

    t = threading.Thread(target=producer, daemon=True)
    t.start()
    assert not done.wait(0.2), "send should have blocked on full channel"
    assert inp.recv(timeout=1).payload == 1
    assert done.wait(2), "send should complete after recv drained one slot"


def test_funnel_merges_all_producers():
    """messaging.rs:413-423: N:1 unordered merge, one shared channel."""
    o1, o2, inp = OutputPort(), OutputPort(), InputPort()
    funnel_ports([o1, o2], inp, cap=8)
    o1.send("a")
    o2.send("b")
    o1.send("c")
    got = sorted(inp.recv(timeout=1).payload for _ in range(3))
    assert got == ["a", "b", "c"]


def test_funnel_contention_exactly_once_in_order():
    """4 producer threads × 2,000 messages over one cap-3 channel, with a
    short switch interval to force interleaving: every message arrives
    exactly once, each producer's order is preserved, and end of stream
    comes only after all four producers have closed."""
    n_producers, n_msgs = 4, 2000
    outs, inp = [OutputPort() for _ in range(n_producers)], InputPort()
    funnel_ports(outs, inp, cap=3)

    def produce(p: int) -> None:
        for i in range(n_msgs):
            outs[p].send((p, i))
        outs[p].close()

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=produce, args=(p,), daemon=True)
                   for p in range(n_producers)]
        for t in threads:
            t.start()
        got: list[list[int]] = [[] for _ in range(n_producers)]
        while (msg := inp.recv(timeout=10.0)) is not None:
            p, i = msg.payload
            got[p].append(i)
        for t in threads:
            t.join(timeout=10.0)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old_interval)
    assert got == [list(range(n_msgs))] * n_producers
    assert len(inp) == 0


@pytest.mark.parametrize(
    "wire",
    [
        lambda cap: connect_ports(OutputPort(), InputPort(), cap=cap),
        lambda cap: funnel_ports([OutputPort()], InputPort(), cap=cap),
        lambda cap: broadcast_port(OutputPort(), [InputPort()], cap=cap),
        lambda cap: broadcast_port(OutputPort(), [InputPort()], cap=cap, lagged=True),
    ],
    ids=["connect", "funnel", "broadcast", "lagged_broadcast"],
)
def test_channel_needs_a_slot(wire):
    """A zero-capacity edge could never accept a send, and a lagged ring
    of no slots could hold no message; wiring refuses both, as the
    reference's bounded channel and tokio's broadcast::channel(0) do."""
    for cap in (0, -3):
        with pytest.raises(ValueError):
            wire(cap)


def test_funnel_end_of_stream_waits_for_all():
    o1, o2, inp = OutputPort(), OutputPort(), InputPort()
    funnel_ports([o1, o2], inp, cap=8)
    o1.send(1)
    o1.close()
    o2.send(2)
    o2.close()
    assert {inp.recv(timeout=1).payload, inp.recv(timeout=1).payload} == {1, 2}
    assert inp.recv(timeout=1) is None  # both producers closed → Done


def test_broadcast_every_consumer_sees_everything():
    """messaging.rs:425-436."""
    out, i1, i2 = OutputPort(), InputPort(), InputPort()
    broadcast_port(out, [i1, i2], cap=8)
    out.send("x")
    out.send("y")
    compare_inbound_sequence(i1, ["x", "y"])
    compare_inbound_sequence(i2, ["x", "y"])


def test_fanout_requires_ports():
    """messaging.rs:85-87: Fanout with zero outputs errors."""
    with pytest.raises(NotConnected):
        Fanout().send(1)


def test_sink_adapter_keeps_oldest():
    """messaging.rs:224-229: overflow drops the NEWEST (keeps oldest cap)."""
    sink = SinkAdapter(cap=3)
    for i in range(6):
        sink.send(Message(i))
    assert sink.drain() == [0, 1, 2]
    assert sink.drain() == []


def test_timer_port_ticks_and_stops():
    """messaging.rs:151-209: lazy start, periodic ticks, stop() cancels."""
    timer = TimerPort(interval=0.02)
    first = timer.recv(timeout=1.0).payload
    second = timer.recv(timeout=1.0).payload
    assert second >= first
    timer.stop()


def test_broadcast_slow_consumer_blocks_never_drops():
    """Lag semantics of the 1:N tee, pinned against the reference's
    broadcast channel (messaging.rs:281-402): tokio's broadcast DROPS
    messages for a receiver that falls more than `cap` behind and
    reports RecvError::Lagged on its next recv. This port layer makes
    the OPPOSITE choice — a full consumer queue applies backpressure to
    the producer (send blocks), and no consumer ever loses a message.
    Deliberate divergence: the batch/ingest pipelines this runtime
    drives favor losslessness over producer progress, and `cap` is the
    backpressure depth, not a lag window. This test documents that
    contract for the DEFAULT mode; reference-parity drop-on-lag with an
    explicit Lagged signal is the opt-in ``lagged=True`` mode, pinned in
    test_broadcast_lagged_mode_drops_oldest_and_signals."""
    out = OutputPort()
    fast, slow = InputPort(), InputPort()
    broadcast_port(out, [fast, slow], cap=2)

    n_msgs = 5
    done = threading.Event()

    def produce():
        for i in range(n_msgs):
            out.send(i)
        done.set()

    t = threading.Thread(target=produce, daemon=True)
    t.start()
    # Drain only the fast consumer: the producer must WEDGE on the slow
    # consumer's full queue (cap 2) instead of dropping for it. The tee
    # delivers fast-then-slow per message, so fast sees messages 0..2
    # before the producer blocks sending message 2 to the full slow side.
    got_fast_early = [fast.recv(timeout=2.0).payload for _ in range(3)]
    assert not done.wait(0.3), "producer finished while slow consumer was full"
    # Unblock: drain the slow side; everything arrives, in order, on both.
    got_slow = [slow.recv(timeout=2.0).payload for _ in range(n_msgs)]
    got_fast = got_fast_early + [
        fast.recv(timeout=2.0).payload for _ in range(n_msgs - 3)
    ]
    t.join(timeout=2.0)
    assert done.is_set()
    assert got_fast == list(range(n_msgs))
    assert got_slow == list(range(n_msgs))


def test_broadcast_lagged_mode_drops_oldest_and_signals():
    """Reference-parity lag semantics (VERDICT r18 #4): with
    ``lagged=True`` the tee is a tokio-style broadcast ring
    (messaging.rs:425-436) — a send NEVER blocks regardless of consumer
    progress; a subscriber that fell more than ``cap`` behind loses the
    OLDEST messages and its next recv raises ``Lagged(skipped)``, after
    which delivery resumes at the oldest retained message. Counts are
    deterministic here because every send happens-before every recv."""
    out = OutputPort()
    a, b = InputPort(), InputPort()
    broadcast_port(out, [a, b], cap=4, lagged=True)

    done = threading.Event()

    def produce():
        for i in range(10):
            out.send(i)  # cap 4, no consumer draining: must never block
        done.set()

    t = threading.Thread(target=produce, daemon=True)
    t.start()
    assert done.wait(2.0), "lagged-mode producer blocked on slow consumers"
    t.join(timeout=2.0)

    # Both subscribers lagged past messages 0..5 (ring retains 6..9).
    with pytest.raises(Lagged) as exc:
        a.recv(timeout=2.0)
    assert exc.value.skipped == 6
    assert [a.recv(timeout=2.0).payload for _ in range(4)] == [6, 7, 8, 9]

    # A consumer that reads AFTER the close: the sentinel rides the ring
    # too, so it sees Lagged(7) (0..6 overwritten by 7, 8, 9, sentinel),
    # the three retained payloads, then end-of-stream.
    out.close()
    with pytest.raises(Lagged) as exc_b:
        b.recv(timeout=2.0)
    assert exc_b.value.skipped == 7
    assert [b.recv(timeout=2.0).payload for _ in range(3)] == [7, 8, 9]
    assert b.recv(timeout=2.0) is None  # sentinel -> graceful end

    # And the keeping-up subscriber sees the end-of-stream normally.
    assert a.recv(timeout=2.0) is None


def test_broadcast_lagged_mode_close_pins_sentinel():
    """ADVICE r19: in lagged mode the end-of-stream sentinel must never
    be evicted by later sends — the ring records closed on close() and
    rejects further sends loudly (NotConnected), so even a subscriber
    that lagged past the ENTIRE payload stream still terminates instead
    of blocking forever on recv."""
    out = OutputPort()
    a = InputPort()
    broadcast_port(out, [a], cap=2, lagged=True)

    for i in range(5):
        out.send(i)  # ring retains 3, 4
    out.close()  # ring retains 4, sentinel

    with pytest.raises(NotConnected):
        out.send(99)  # would have evicted the sentinel pre-fix
    out.close()  # repeat close is idempotent, matching queue mode

    with pytest.raises(Lagged) as exc:
        a.recv(timeout=2.0)
    assert exc.value.skipped == 4  # 0..3 overwritten
    assert a.recv(timeout=2.0).payload == 4
    assert a.recv(timeout=2.0) is None  # sentinel survived -> clean end
