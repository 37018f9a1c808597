"""Stage runtime: worker lifecycle, state machine, supervision — parity
with gasket/src/framework.rs + runtime.rs + daemon.rs, re-expressed with
Python threads (the reference runs one OS thread per stage with a
current-thread async runtime — runtime.rs:441-478; we do thread-per-stage
directly).

Lifecycle parity (framework.rs:91-135, runtime.rs:19-317):
  Bootstrap → Scheduling → Executing → Teardown → Ended
with per-phase retry policies, dismissal (cancellation), restart-from-
bootstrap on WorkerError.RESTART, and the fast-teardown guarantee
(cancellation observed within the scheduler poll interval, mirroring
runtime.rs:691-719's ±10 ms bound).

In Spark terms a Stage's ``execute`` typically runs a DataFrame action or
a ``foreachBatch`` body; the runtime layer stays on the driver and Spark
distributes the data plane (SURVEY §3.1).
"""

from __future__ import annotations

import enum
import functools
import signal
import threading
import time
from dataclasses import dataclass, field
from typing import Any

from gasket_rs_spark.pipeline import messaging
from gasket_rs_spark.pipeline.metrics import Registry
from gasket_rs_spark.pipeline.retries import Retry, RetryPolicy, retry_call


class WorkSchedule(enum.Enum):
    """framework.rs:81-88."""

    IDLE = "idle"
    UNIT = "unit"
    DONE = "done"


# Module-level aliases for the enum members the stage tick uses: a
# class-attribute enum lookup costs about 0.2 µs, and ticks run ten times
# per message in a four-stage chain.
_IDLE, _UNIT, _DONE = WorkSchedule.IDLE, WorkSchedule.UNIT, WorkSchedule.DONE


class Scheduled:
    """What ``Worker.schedule`` returns. ``idle()``, ``unit_of(unit)`` and
    ``done()`` are C-level partials: no Python frame beyond ``__init__``."""

    __slots__ = ("kind", "unit")

    def __init__(self, kind: WorkSchedule, unit: Any = None):
        self.kind = kind
        self.unit = unit


Scheduled.idle = functools.partial(Scheduled, _IDLE)
Scheduled.unit_of = functools.partial(Scheduled, _UNIT)
Scheduled.done = functools.partial(Scheduled, _DONE)


class WorkerError(Exception):
    """framework.rs:20-38: Retry / Panic / Restart verdicts as exceptions."""

    RETRY = "retry"
    PANIC = "panic"
    RESTART = "restart"

    def __init__(self, kind: str, cause: BaseException | None = None):
        super().__init__(kind)
        self.kind = kind
        self.cause = cause


class Worker:
    """Subclass contract = framework.rs:91-135. Override the four phases."""

    def bootstrap(self, stage: "Stage") -> None:  # noqa: ARG002
        return

    def schedule(self, stage: "Stage") -> Scheduled:
        raise NotImplementedError

    def execute(self, unit: Any, stage: "Stage") -> None:
        raise NotImplementedError

    def teardown(self) -> None:
        return


@dataclass
class Stage:
    """A named processing step owning ports, config, metrics
    (framework.rs:9-18). Ports live as plain attributes on subclasses or
    instances; the runtime only needs name/metrics/worker factory."""

    name: str
    metrics: Registry = field(default_factory=Registry)

    def worker(self) -> Worker:
        raise NotImplementedError


class StagePhase(enum.Enum):
    BOOTSTRAP = "bootstrap"
    SCHEDULING = "scheduling"
    EXECUTING = "executing"
    TEARDOWN = "teardown"
    ENDED = "ended"

    # members are singletons: identity hashing keeps the per-tick actuator
    # lookup off Enum's Python-level __hash__
    __hash__ = object.__hash__


_BOOTSTRAP, _SCHEDULING, _EXECUTING, _TEARDOWN, _ENDED = (
    StagePhase.BOOTSTRAP, StagePhase.SCHEDULING, StagePhase.EXECUTING,
    StagePhase.TEARDOWN, StagePhase.ENDED,
)


@dataclass
class Policy:
    """runtime.rs:422-439."""

    tick_timeout: float = 5.0
    bootstrap_retry: RetryPolicy = field(default_factory=RetryPolicy)
    work_retry: RetryPolicy = field(default_factory=RetryPolicy)
    teardown_retry: RetryPolicy = field(default_factory=RetryPolicy)


class TetherState(enum.Enum):
    """runtime.rs:346-404."""

    DROPPED = "dropped"
    BLOCKED = "blocked"
    ALIVE = "alive"


class _Anchor:
    """runtime.rs:319-344: shared cells the running stage publishes into."""

    def __init__(self) -> None:
        self.dismissed = threading.Event()
        self.phase: StagePhase = StagePhase.BOOTSTRAP
        self.last_tick: float = time.monotonic()
        self.error: BaseException | None = None


class StageMachine:
    """runtime.rs:19-317: drive one worker through its lifecycle."""

    def __init__(self, stage: Stage, policy: Policy, anchor: _Anchor):
        self.stage = stage
        self.policy = policy
        self.anchor = anchor
        self.worker = stage.worker()
        self.tick_count = stage.metrics.track_counter("tick_count")
        # one Retry per machine; its count is reset for each new unit
        self._work_retry = Retry(policy.work_retry)
        self._pending_unit: Any = None
        self._dismissed = anchor.dismissed
        self.phase = _BOOTSTRAP

    # -- phase ops ---------------------------------------------------------

    def transition(self) -> StagePhase:
        """One state-machine tick: actuate current phase, apply the event
        (runtime.rs:291-316), then publish the tick. Only this stage's
        thread writes ``tick_count``, so it advances with no lock."""
        try:
            self._ACTUATORS[self.phase](self)
        except BaseException as err:  # noqa: BLE001 — supervisor decides
            self.anchor.error = err
            self.phase = _ENDED if self.phase is _TEARDOWN else _TEARDOWN
        self.tick_count.value += 1
        anchor = self.anchor
        anchor.phase = phase = self.phase
        anchor.last_tick = time.monotonic()
        return phase

    def _actuate_bootstrap(self) -> None:
        if self._dismissed.is_set():
            self.phase = _TEARDOWN
            return
        retry_call(
            lambda: self.worker.bootstrap(self.stage),
            self.policy.bootstrap_retry,
            cancelled=self._dismissed.is_set,
        )
        self.phase = _SCHEDULING

    def _actuate_schedule(self) -> None:
        if self._dismissed.is_set():
            self.phase = _TEARDOWN
            return
        sched = self.worker.schedule(self.stage)
        kind = sched.kind
        if kind is _UNIT:
            self._pending_unit = sched.unit
            self._work_retry.count = 0
            self.phase = _EXECUTING
        elif kind is _DONE:
            self.phase = _TEARDOWN
        # IDLE: stay in SCHEDULING (runtime.rs: NextUnit(None) → Scheduling)

    def _actuate_execute(self) -> None:
        """Execute the pending unit with reference retry semantics: the
        SAME unit is re-executed max_retries+1 times (runtime.rs:627-659),
        then dismissed (skip, back to scheduling) or escalated."""
        if self._dismissed.is_set():
            self.phase = _TEARDOWN
            return
        try:
            self.worker.execute(self._pending_unit, self.stage)
        except WorkerError as err:
            if err.kind == WorkerError.RESTART:
                # teardown then re-bootstrap without ending (runtime.rs:268,280)
                self.worker.teardown()
                self.worker = self.stage.worker()
                self.phase = _BOOTSTRAP
                return
            if err.kind == WorkerError.PANIC:
                raise
            self._retry_or_escalate()
            return
        except Exception:
            self._retry_or_escalate()
            return
        self.phase = _SCHEDULING

    def _retry_or_escalate(self) -> None:
        self._work_retry.next()
        if self._work_retry.maxed():
            if self.policy.work_retry.dismissible:
                # skip the unit, schedule fresh (runtime.rs:272-274)
                self._pending_unit = None
                self.phase = _SCHEDULING
                return
            raise WorkerError(WorkerError.PANIC)
        self._work_retry.wait_backoff(self._dismissed.is_set)
        # stay in EXECUTING: same unit retried next tick

    def _actuate_teardown(self) -> None:
        retry_call(self.worker.teardown, self.policy.teardown_retry)
        self.phase = _ENDED

    # phase → actuator, built once; an ENDED machine only ticks
    _ACTUATORS = {
        _BOOTSTRAP: _actuate_bootstrap,
        _SCHEDULING: _actuate_schedule,
        _EXECUTING: _actuate_execute,
        _TEARDOWN: _actuate_teardown,
        _ENDED: lambda self: None,
    }


class Tether:
    """Supervision handle (runtime.rs:346-420)."""

    def __init__(self, name: str, thread: threading.Thread, anchor: _Anchor, policy: Policy, metrics: Registry):
        self.name = name
        self._thread = thread
        self._anchor = anchor
        self._policy = policy
        self._metrics = metrics

    def check_state(self) -> TetherState:
        if not self._thread.is_alive() and self._anchor.phase is not StagePhase.ENDED:
            return TetherState.DROPPED
        if time.monotonic() - self._anchor.last_tick > self._policy.tick_timeout:
            return TetherState.BLOCKED
        return TetherState.ALIVE

    @property
    def phase(self) -> StagePhase:
        return self._anchor.phase

    @property
    def error(self) -> BaseException | None:
        return self._anchor.error

    def dismiss_stage(self) -> None:
        self._anchor.dismissed.set()

    def join_stage(self, timeout: float | None = None) -> None:
        self._thread.join(timeout)

    def read_metrics(self) -> dict[str, float]:
        return self._metrics.collect_readings()


def spawn_stage(stage: Stage, policy: Policy | None = None) -> Tether:
    """One thread per stage looping transition() until Ended
    (runtime.rs:441-478)."""
    policy = policy or Policy()
    anchor = _Anchor()

    def run() -> None:
        messaging._stage.dismissed = anchor.dismissed
        machine = StageMachine(stage, policy, anchor)
        while machine.transition() is not _ENDED:
            pass

    thread = threading.Thread(target=run, name=f"stage-{stage.name}", daemon=True)
    thread.start()
    return Tether(stage.name, thread, anchor, policy, stage.metrics)


class Daemon:
    """Pipeline supervisor (gasket/src/daemon.rs:13-86): polls tethers,
    stops on signal or when any stage ends/stalls; two-phase teardown."""

    POLL_INTERVAL = 0.1  # faster than the reference's 1.5 s; same semantics

    def __init__(self, tethers: list[Tether], handle_signals: bool = False):
        self.tethers = tethers
        self._terminated = threading.Event()
        if handle_signals and threading.current_thread() is threading.main_thread():
            for sig in (signal.SIGINT, signal.SIGTERM):
                signal.signal(sig, lambda *_: self._terminated.set())

    def has_ended(self) -> bool:
        for t in self.tethers:
            state = t.check_state()
            if state in (TetherState.DROPPED, TetherState.BLOCKED):
                return True
            if t.phase is StagePhase.ENDED:
                return True
        return False

    def should_stop(self) -> bool:
        return self._terminated.is_set() or self.has_ended()

    def teardown(self) -> None:
        for t in self.tethers:
            t.dismiss_stage()
        for t in self.tethers:
            t.join_stage(timeout=5.0)

    def block(self) -> None:
        while not self.should_stop():
            time.sleep(self.POLL_INTERVAL)
        self.teardown()

    def read_all_metrics(self) -> dict[str, dict[str, float]]:
        return {t.name: t.read_metrics() for t in self.tethers}
