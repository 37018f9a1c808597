"""Pipeline-runner tests mirroring the reference suite
(gasket/src/runtime.rs:480-720 — happy path, max-retries, cancel-in-time)
with the mock_counter_stage fixture family (FIXTURES.md §A).
"""

from __future__ import annotations

import time

import pytest

from gasket_rs_spark.pipeline.retries import RetryPolicy
from gasket_rs_spark.pipeline.runtime import (
    Daemon,
    Policy,
    Scheduled,
    Stage,
    StagePhase,
    TetherState,
    Worker,
    WorkerError,
    spawn_stage,
)


class MockWorker(Worker):
    """Counts lifecycle calls; injects failures / delays by unit index
    (runtime.rs:486-570)."""

    def __init__(self, stage: "MockStage"):
        self.cfg = stage

    def bootstrap(self, stage):
        self.cfg.bootstrap_count += 1

    def schedule(self, stage):
        time.sleep(self.cfg.schedule_delay)
        self.cfg.schedule_count += 1
        if self.cfg.schedule_count > self.cfg.units:
            return Scheduled.done()
        return Scheduled.unit_of(self.cfg.schedule_count)

    def execute(self, unit, stage):
        time.sleep(self.cfg.execute_delay)
        self.cfg.execute_count += 1
        self.cfg.executed_units.append(unit)
        if self.cfg.failures and self.cfg.failures[unit % len(self.cfg.failures)]:
            raise RuntimeError(f"injected failure on unit {unit}")

    def teardown(self):
        self.cfg.teardown_count += 1


class MockStage(Stage):
    def __init__(self, name="mock", units=5, failures=None, schedule_delay=0.0, execute_delay=0.0):
        super().__init__(name=name)
        self.units = units
        self.failures = failures or []
        self.schedule_delay = schedule_delay
        self.execute_delay = execute_delay
        self.bootstrap_count = 0
        self.schedule_count = 0
        self.execute_count = 0
        self.teardown_count = 0
        self.executed_units = []

    def worker(self):
        return MockWorker(self)


@pytest.mark.parametrize("units", [0, 1, 5, 50])
def test_stage_machine_happy_path(units):
    """runtime.rs:590-615: bootstrap → N units → done → teardown → ended.
    Without failures that is exactly 2N + 3 ticks: one bootstrap, a
    schedule and an execute per unit, the schedule that returns done, and
    the teardown."""
    stage = MockStage(units=units)
    tether = spawn_stage(stage, Policy())
    tether.join_stage(timeout=10)
    assert tether.phase is StagePhase.ENDED
    assert stage.bootstrap_count == 1
    assert stage.execute_count == units
    assert stage.executed_units == list(range(1, units + 1))
    assert stage.teardown_count == 1
    assert tether.read_metrics()["tick_count"] == 2 * units + 3


def test_honors_max_retries():
    """runtime.rs:617-662: max_retries=3 ⇒ the SAME unit executes exactly
    4 times, then the stage tears down."""
    stage = MockStage(units=5, failures=[True])  # every unit fails
    policy = Policy(work_retry=RetryPolicy(max_retries=3, backoff_unit=0.001))
    tether = spawn_stage(stage, policy)
    tether.join_stage(timeout=10)
    assert tether.phase is StagePhase.ENDED
    assert stage.execute_count == 4
    assert stage.executed_units == [1, 1, 1, 1]
    assert stage.teardown_count == 1
    assert tether.error is not None


def test_retry_budget_is_per_unit():
    """Each unit gets the full max_retries budget: a unit that fails only
    its first attempt is retried once and succeeds, for every unit, under
    a non-dismissible policy with max_retries=1. A budget carried over
    from the previous unit would escalate unit 2 to PANIC."""

    class FailFirstAttemptWorker(MockWorker):
        def execute(self, unit, stage):
            self.cfg.execute_count += 1
            self.cfg.executed_units.append(unit)
            if self.cfg.executed_units.count(unit) == 1:
                raise RuntimeError(f"injected first-attempt failure on unit {unit}")

    class FailFirstStage(MockStage):
        def worker(self):
            return FailFirstAttemptWorker(self)

    stage = FailFirstStage(units=3)
    policy = Policy(work_retry=RetryPolicy(max_retries=1, backoff_unit=0.001))
    tether = spawn_stage(stage, policy)
    tether.join_stage(timeout=10)
    assert tether.phase is StagePhase.ENDED
    assert stage.executed_units == [1, 1, 2, 2, 3, 3]
    assert tether.error is None
    assert stage.teardown_count == 1


def test_dismissible_skips_unit_and_continues():
    """retries.rs dismissible (runtime.rs:272-274): maxed unit is skipped,
    subsequent units still run."""
    stage = MockStage(units=3, failures=[False, True, False, False])  # unit 1 fails
    policy = Policy(work_retry=RetryPolicy(max_retries=2, backoff_unit=0.001, dismissible=True))
    tether = spawn_stage(stage, policy)
    tether.join_stage(timeout=10)
    assert tether.phase is StagePhase.ENDED
    # unit 1: 3 attempts (dismissed), units 2 and 3: 1 attempt each
    assert stage.executed_units == [1, 1, 1, 2, 3]


def test_honors_cancel_in_time():
    """runtime.rs:691-719: dismissing a stage with slow schedule/execute
    still shuts down promptly (fast-teardown guarantee)."""
    stage = MockStage(units=5, schedule_delay=0.5, execute_delay=0.5)
    tether = spawn_stage(stage, Policy(tick_timeout=10))
    time.sleep(0.2)
    t0 = time.monotonic()
    tether.dismiss_stage()
    tether.join_stage(timeout=5)
    elapsed = time.monotonic() - t0
    assert tether.phase is StagePhase.ENDED
    # bounded by at most one in-flight phase op (0.5 s) + epsilon
    assert elapsed < 1.5


def test_worker_restart_rebootstraps():
    """runtime.rs:268,280: WorkerError::Restart ⇒ teardown + re-bootstrap
    without ending the stage."""

    class RestartOnceWorker(MockWorker):
        def execute(self, unit, stage):
            self.cfg.execute_count += 1
            self.cfg.executed_units.append(unit)
            if unit == 2 and self.cfg.bootstrap_count == 1:
                raise WorkerError(WorkerError.RESTART)

    class RestartStage(MockStage):
        def worker(self):
            return RestartOnceWorker(self)

    stage = RestartStage(units=4)
    tether = spawn_stage(stage, Policy())
    tether.join_stage(timeout=10)
    assert tether.phase is StagePhase.ENDED
    assert stage.bootstrap_count == 2
    assert stage.teardown_count == 2  # restart teardown + final teardown


def test_daemon_stops_when_stage_ends():
    """daemon.rs:36-48: any ended stage stops the pipeline; two-phase
    teardown joins everything."""
    fast = MockStage(name="fast", units=2)
    slow = MockStage(name="slow", units=10_000, schedule_delay=0.01)
    tethers = [spawn_stage(fast), spawn_stage(slow)]
    daemon = Daemon(tethers)
    t0 = time.monotonic()
    daemon.block()
    assert time.monotonic() - t0 < 10
    assert tethers[0].phase is StagePhase.ENDED
    metrics = daemon.read_all_metrics()
    assert set(metrics) == {"fast", "slow"}


def test_tether_blocked_detection():
    """runtime.rs:383-404: no tick within tick_timeout ⇒ Blocked."""
    stage = MockStage(units=1, execute_delay=2.0)
    tether = spawn_stage(stage, Policy(tick_timeout=0.2))
    time.sleep(0.6)  # past bootstrap tick, stuck in slow execute
    assert tether.check_state() is TetherState.BLOCKED
    tether.dismiss_stage()
    tether.join_stage(timeout=5)


def test_teardown_interrupts_stage_blocked_on_full_queue():
    """A dismissed stage stops waiting on its ports: the sink ends after
    one message, the unbounded source fills the cap-2 edge and blocks in
    send, and Daemon.teardown() still ends it (and its close) promptly
    instead of leaving it alive past the 5 s join."""
    from gasket_rs_spark.pipeline.messaging import InputPort, OutputPort, connect_ports

    class SourceWorker(Worker):
        def schedule(self, stage):
            return Scheduled.unit_of(0)

        def execute(self, unit, stage):
            stage.output.send(unit)

        def teardown(self):
            src.output.close()

    class SinkWorker(Worker):
        def schedule(self, stage):
            stage.input.recv()
            return Scheduled.done()

    src, sink = Stage(name="source"), Stage(name="sink")
    src.output, src.worker = OutputPort(), SourceWorker
    sink.input, sink.worker = InputPort(), SinkWorker
    connect_ports(src.output, sink.input, cap=2)
    tethers = [spawn_stage(s) for s in (src, sink)]
    deadline = time.monotonic() + 10
    while tethers[1].phase is not StagePhase.ENDED or len(src.output) < 2:
        assert time.monotonic() < deadline, "source never filled the queue"
        time.sleep(0.01)
    time.sleep(0.2)  # the source is now inside send on the full queue
    t0 = time.monotonic()
    Daemon(tethers).teardown()
    assert time.monotonic() - t0 < 1.0
    assert all(t.phase is StagePhase.ENDED for t in tethers)


def _assert_teardown_ends_wait(wait, teardown=lambda: None):
    """Spawn a stage whose schedule calls ``wait()``, which blocks; once the
    stage is inside it, Daemon.teardown() must end the stage within 1 s
    instead of holding the 5 s join."""

    class WaitingWorker(Worker):
        def schedule(self, stage):
            wait()
            return Scheduled.done()

        def teardown(self):
            teardown()

    stage = Stage(name="waiting")
    stage.worker = WaitingWorker
    tether = spawn_stage(stage)
    deadline = time.monotonic() + 10
    while tether.phase is not StagePhase.SCHEDULING:
        assert time.monotonic() < deadline, "stage never reached scheduling"
        time.sleep(0.01)
    time.sleep(0.2)  # the stage is now inside the wait
    t0 = time.monotonic()
    Daemon([tether]).teardown()
    assert time.monotonic() - t0 < 1.0
    assert tether.phase is StagePhase.ENDED


@pytest.mark.parametrize("wait", ["timer_recv", "input_recv_timeout"])
def test_teardown_interrupts_stage_blocked_in_timed_wait(wait):
    """A stage whose schedule waits on a 10 s TimerPort tick, or on a
    silent InputPort with a 10 s timeout, still ends promptly on
    Daemon.teardown() instead of holding the 5 s join."""
    from gasket_rs_spark.pipeline.messaging import (
        InputPort, OutputPort, TimerPort, connect_ports,
    )

    timer = TimerPort(interval=10.0)
    silent, inp = OutputPort(), InputPort()
    connect_ports(silent, inp, cap=1)
    wait_fn = timer.recv if wait == "timer_recv" else lambda: inp.recv(timeout=10.0)
    _assert_teardown_ends_wait(wait_fn, timer.stop)


@pytest.mark.parametrize("edge", ["channel", "lagged_broadcast"])
def test_teardown_interrupts_stage_blocked_in_untimed_recv(edge):
    """An untimed recv() on an edge that never delivers, a silent
    connect_ports channel or a lagged=True broadcast receiver, ends on
    Daemon.teardown(): the edge's own wait, entered after its
    non-blocking take misses, polls the stage's dismissal."""
    from gasket_rs_spark.pipeline.messaging import (
        InputPort, OutputPort, broadcast_port, connect_ports,
    )

    silent, inp = OutputPort(), InputPort()
    if edge == "channel":
        connect_ports(silent, inp, cap=1)
    else:
        broadcast_port(silent, [inp], cap=4, lagged=True)
    _assert_teardown_ends_wait(inp.recv)


def test_tick_count_exact_under_concurrent_readers():
    """The stage thread is the only writer of tick_count and updates it
    without a lock: with more reader threads than cores calling
    read_metrics() in a loop, and thread switches forced every
    microsecond, each reader sees it only grow, and the final count is
    still exactly 2N + 3."""
    import os
    import sys
    import threading

    units = 2000
    stage = MockStage(units=units)
    stop = threading.Event()
    reads: list[list[float]] = [[] for _ in range((os.cpu_count() or 1) + 1)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        tether = spawn_stage(stage, Policy())

        def reader(out):
            while not stop.is_set():
                out.append(tether.read_metrics()["tick_count"])

        threads = [threading.Thread(target=reader, args=(r,)) for r in reads]
        for t in threads:
            t.start()
        tether.join_stage(timeout=30)
        stop.set()
        for t in threads:
            t.join(timeout=10)
    finally:
        stop.set()
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert tether.phase is StagePhase.ENDED
    assert all(r and r == sorted(r) for r in reads)
    assert tether.read_metrics()["tick_count"] == 2 * units + 3


@pytest.mark.parametrize(
    "retry_n,expected",
    [(0, 0.0), (1, 0.002), (2, 0.004), (3, 0.008), (20, 0.05)],
)
def test_backoff_schedule(retry_n, expected):
    """retries.rs:74-78: unit × factor^n (compute_backoff_delay uses the
    1-based retry count as the exponent), capped at max_backoff."""
    p = RetryPolicy(max_retries=10, backoff_unit=0.001, backoff_factor=2.0, max_backoff=0.05)
    assert p.backoff_delay(retry_n) == pytest.approx(expected)
