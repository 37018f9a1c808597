"""The ``stage_pipeline`` workload: source -> mapper -> splitter -> sink.

Built only from the public ``gasket_rs_spark.pipeline`` API, following
USAGE.md sections 1-2: ``schedule`` calls ``recv``, ``execute`` calls
``send``, ``teardown`` calls ``close``. Every edge is a ``connect_ports``
edge of capacity 10. No JVM is started.

Each phase runs on a freshly wired chain under a ``Daemon`` with a
``PrometheusExporter`` that a scraper thread polls at a fixed interval.

A run starts with one mid-stream teardown under a full queue. The source
sends without end, as fast as the ports accept; the mapper panics
(``WorkerError.PANIC``) on unit ``TEARDOWN_MSGS``. Its teardown closes its
output, so the splitter and the sink drain and end, while the source
fills the mapper's queue and blocks in ``send``. Once the chain is in
that state, ``Daemon.teardown()`` is called, as ``Daemon.block()`` would
on seeing a stage end. The state is the same in every run, so the
stages still running after the teardown are too. The teardown's wall
time and those stages are reported; the chain is then drained so that
every stage ends before the timed passes.

Then timed passes, each of two phases, each run to its end:

* closed loop: the source sends ``CLOSED_MSGS`` messages as fast as the
  ports accept them, then ends; the chain drains and every stage ends.
  Its wall time, first send to last sink arrival, is the pass time;
* open loop: the source sends ``OPEN_MSGS`` messages at ``OPEN_RATE``
  messages per second, then ends.

The seed picks the payloads and the units whose first mapper attempt
fails; ``RetryPolicy(max_retries=2)`` must still deliver them. The sink's
records are checked: every message sent before the panic or the end
arrives exactly once, correctly transformed. A lost or duplicated message
and a stage still running after the teardown each count as a failed
operation.

``python3 perfbench/pipeline_workload.py`` on its own is the set-up probe
that ``setup_s`` times: import, wire, spawn, wait for bootstrap, then end.
"""

from __future__ import annotations

import os
import random
import subprocess
import sys
import threading
import time
import urllib.request

from gasket_rs_spark.pipeline.messaging import InputPort, OutputPort, connect_ports
from gasket_rs_spark.pipeline.prometheus import PrometheusExporter
from gasket_rs_spark.pipeline.retries import RetryPolicy
from gasket_rs_spark.pipeline.runtime import (
    Daemon, Policy, Scheduled, Stage, StagePhase, Worker, WorkerError, spawn_stage,
)

CAP = 10  # the reference example's channel capacity
CLOSED_MSGS = 20_000
OPEN_RATE = 2_000.0  # msgs/s; the closed loop moves about 10-12k msgs/s on one core
OPEN_MSGS = 2_000
TEARDOWN_MSGS = 5_000
FAIL_SHARE = 0.03  # well above 1%, so the p99 latency sits on the retry path
SCRAPE_INTERVAL = 0.5
SETUP_PROBES = 7
MIN_PASSES = 2
# Nominal seconds of the teardown (its 5 s join included) and of one pass
# on a 4-core host. The pass count is set from them and ``--seconds``, not
# from the clock, so every run attempts the same operations.
TEARDOWN_S = 5.5
PASS_S = 2.5
POLICY = Policy(work_retry=RetryPolicy(max_retries=2, backoff_unit=0.0005, backoff_factor=2.0))
MASK = 0xFFFFFFFF


def transform(v: int) -> int:
    """The mapper's per-message work (Knuth multiplicative hash)."""
    return (v * 2654435761) & MASK


def split(h: int) -> tuple[int, int]:
    """The splitter's 1:2 fan-out of one mapped value."""
    return h & 0xFFFF, h >> 16


class Probe:
    """Per-layer timings gathered by the workers when tracing is on."""

    def __init__(self, on: bool):
        self.on = on
        self.lock = threading.Lock()
        self.send_s = self.recv_s = self.execute_s = self.backoff_s = 0.0
        self.depth_sum = self.depth_n = self.retried = 0

    def add(self, **kw) -> None:
        with self.lock:
            for k, v in kw.items():
                setattr(self, k, getattr(self, k) + v)


def _send(stage, item, probe: Probe) -> None:
    if not probe.on:
        stage.output.send(item)
        return
    depth = len(stage.output)
    t0 = time.perf_counter()
    stage.output.send(item)
    probe.add(send_s=time.perf_counter() - t0, depth_sum=depth, depth_n=1)


def _recv(stage, probe: Probe):
    if not probe.on:
        return stage.input.recv()
    t0 = time.perf_counter()
    msg = stage.input.recv()
    probe.add(recv_s=time.perf_counter() - t0)
    return msg


class Source(Stage):
    def __init__(self, payloads: list[int], limit: int | None, rate: float | None, probe: Probe):
        super().__init__(name="source")
        self.output = OutputPort()
        self.payloads, self.limit, self.rate, self.probe = payloads, limit, rate, probe
        self.t0 = 0.0
        self.late: list[float] = []  # open loop: send start minus due time

    def payload(self, seq: int) -> int:
        return self.payloads[seq % len(self.payloads)] ^ seq

    def worker(self):
        stage = self

        class W(Worker):
            seq = 0

            def bootstrap(self, s):
                stage.t0 = time.perf_counter()

            def schedule(self, s):
                if stage.limit is not None and self.seq >= stage.limit:
                    return Scheduled.done()
                due = stage.t0 + self.seq / stage.rate if stage.rate else 0.0
                if stage.rate:
                    delay = due - time.perf_counter()
                    if delay > 0:
                        time.sleep(delay)
                else:
                    due = time.perf_counter()
                self.seq += 1
                return Scheduled.unit_of((self.seq - 1, stage.payload(self.seq - 1), due))

            def execute(self, unit, s):
                t0 = time.perf_counter()
                if stage.rate:
                    stage.late.append(t0 - unit[2])
                _send(stage, unit, stage.probe)
                if stage.probe.on:
                    stage.probe.add(execute_s=time.perf_counter() - t0)

            def teardown(self):
                stage.output.close()

        return W()


class Relay(Stage):
    """A mapper (1:1, may fail a unit's first attempt, may panic on unit
    ``panic_at``) or a splitter (1:2)."""

    def __init__(self, name: str, fails: frozenset, probe: Probe, panic_at: int | None = None):
        super().__init__(name=name)
        self.input, self.output = InputPort(), OutputPort()
        self.fails, self.probe, self.panic_at = fails, probe, panic_at
        self.failed_at: dict[int, float] = {}

    def outputs(self, unit) -> list:
        seq, v, due = unit
        if self.name == "mapper":
            return [(seq, transform(v), due)]
        return [(seq, part, piece, due) for part, piece in enumerate(split(v))]

    def worker(self):
        stage = self

        class W(Worker):
            def schedule(self, s):
                msg = _recv(stage, stage.probe)
                return Scheduled.done() if msg is None else Scheduled.unit_of(msg.payload)

            def execute(self, unit, s):
                t0 = time.perf_counter()
                seq = unit[0]
                if seq == stage.panic_at:
                    raise WorkerError(WorkerError.PANIC)
                if seq in stage.fails and seq not in stage.failed_at:
                    stage.failed_at[seq] = t0
                    raise RuntimeError(f"injected first-attempt failure of unit {seq}")
                if seq in stage.failed_at and stage.probe.on:
                    stage.probe.add(backoff_s=t0 - stage.failed_at[seq], retried=1)
                for item in stage.outputs(unit):
                    _send(stage, item, stage.probe)
                if stage.probe.on:
                    stage.probe.add(execute_s=time.perf_counter() - t0)

            def teardown(self):
                stage.output.close()

        return W()


class Sink(Stage):
    def __init__(self, probe: Probe):
        super().__init__(name="sink")
        self.input = InputPort()
        self.probe = probe
        self.records: list[tuple] = []  # (seq, part, piece, due, arrival)

    def worker(self):
        stage = self

        class W(Worker):
            def schedule(self, s):
                msg = _recv(stage, stage.probe)
                return Scheduled.done() if msg is None else Scheduled.unit_of(msg.payload)

            def execute(self, unit, s):
                t0 = time.perf_counter()
                stage.records.append((*unit, t0))
                if stage.probe.on:
                    stage.probe.add(execute_s=time.perf_counter() - t0)

        return W()


def build(payloads, fails, limit, rate, probe, panic_at=None):
    src = Source(payloads, limit, rate, probe)
    mapper = Relay("mapper", fails, probe, panic_at)
    splitter = Relay("splitter", frozenset(), probe)
    sink = Sink(probe)
    connect_ports(src.output, mapper.input, cap=CAP)
    connect_ports(mapper.output, splitter.input, cap=CAP)
    connect_ports(splitter.output, sink.input, cap=CAP)
    return [src, mapper, splitter, sink]


class Scraper:
    """Polls a Prometheus exporter at a fixed interval; keeps latencies."""

    def __init__(self, port: int, latencies: list[float]):
        self.url, self.latencies = f"http://127.0.0.1:{port}/metrics", latencies
        self.stop = threading.Event()
        self.thread = threading.Thread(target=self._run, daemon=True)
        self.thread.start()

    def _run(self) -> None:
        while not self.stop.wait(SCRAPE_INTERVAL):
            t0 = time.perf_counter()
            with urllib.request.urlopen(self.url, timeout=2.0) as r:
                r.read()
            self.latencies.append(time.perf_counter() - t0)

    def close(self) -> None:
        self.stop.set()
        self.thread.join()


def check(records, payloads_of, seqs) -> int:
    """Messages in ``seqs`` not delivered exactly once and correctly, plus
    any record outside ``seqs`` that is duplicated or wrong."""
    seen: dict[tuple[int, int], int] = {}
    bad = set()
    for seq, part, piece, _, _ in records:
        if (seq, part) in seen or piece != split(transform(payloads_of(seq)))[part]:
            bad.add(seq)
        seen[(seq, part)] = 1
    missing = {s for s in seqs if (s, 0) not in seen or (s, 1) not in seen}
    return len(bad | missing)


class Chain:
    """A freshly wired chain under a ``Daemon``, its exporter scraped."""

    def __init__(self, payloads, fails, limit, rate, probe, scrapes, panic_at=None):
        self.stages = build(payloads, fails, limit, rate, probe, panic_at)
        self.source, self.sink = self.stages[0], self.stages[-1]
        self.tethers = [spawn_stage(s, POLICY) for s in self.stages]
        self.daemon = Daemon(self.tethers)
        self.exporter = PrometheusExporter(self.daemon).start()
        self.scraper = Scraper(self.exporter.port, scrapes)

    def running(self) -> int:
        return sum(t.phase is not StagePhase.ENDED for t in self.tethers)

    def teardown(self) -> tuple[float, int]:
        """``Daemon.teardown()``; returns its seconds and the stages still
        running after it."""
        t0 = time.perf_counter()
        self.daemon.teardown()
        return time.perf_counter() - t0, self.running()

    def drain(self, limit_s: float = 30.0) -> None:
        """Receive and drop what a stage that outlived the teardown is
        blocked sending, until every stage has ended. Only the input of an
        ended stage is read: a running stage reads its own."""
        deadline = time.monotonic() + limit_s
        while self.running() and time.monotonic() < deadline:
            for stage, tether in zip(self.stages[1:], self.tethers[1:]):
                if tether.phase is StagePhase.ENDED:
                    try:
                        stage.input.recv(timeout=0.001)
                    except TimeoutError:
                        pass

    def stop(self) -> None:
        self.scraper.close()
        self.exporter.stop()


def full_queue_teardown(payloads, fails, scrapes):
    """Tear the chain down while the source is blocked on a full queue;
    returns (teardown seconds, stages still running after it, messages
    before the panic not delivered exactly once)."""
    chain = Chain(payloads, fails, None, None, Probe(False), scrapes, panic_at=TEARDOWN_MSGS)
    deadline = time.monotonic() + 60.0
    # downstream of the source every stage has ended and nothing reads the
    # mapper's queue: the source is, or is about to be, blocked in send
    while any(t.phase is not StagePhase.ENDED for t in chain.tethers[1:]) \
            or len(chain.source.output) < CAP:
        if time.monotonic() > deadline:
            raise RuntimeError("full-queue state not reached")
        time.sleep(0.001)
    teardown_s, alive = chain.teardown()
    chain.drain()
    chain.stop()
    return teardown_s, alive, check(chain.sink.records, chain.source.payload,
                                    range(TEARDOWN_MSGS))


def run_loop(payloads, fails, limit, rate, probe, scrapes):
    """Run a bounded source through a fresh chain until every stage has
    ended; return the chain."""
    chain = Chain(payloads, fails, limit, rate, probe, scrapes)
    for t in chain.tethers:
        t.join_stage(timeout=120.0)
    chain.daemon.teardown()
    chain.stop()
    return chain


def one_pass(payloads, fails, trace, scrapes):
    """Run the closed and the open loop once; return the pass record."""
    closed_probe, open_probe = Probe(trace), Probe(trace)
    # closed loop: bounded batch, as fast as the ports accept
    chain = run_loop(payloads, fails, CLOSED_MSGS, None, closed_probe, scrapes)
    ticks = sum(t.read_metrics().get("tick_count", 0) for t in chain.tethers)
    recs = chain.sink.records
    closed_s = max(r[4] for r in recs) - chain.source.t0 if recs else float("inf")
    closed_bad = check(recs, chain.source.payload, range(CLOSED_MSGS))

    # open loop: bounded batch at a fixed offered rate
    chain = run_loop(payloads, fails, OPEN_MSGS, OPEN_RATE, open_probe, scrapes)
    recs = chain.sink.records
    arrival: dict[int, float] = {}
    for seq, _, _, due, at in recs:
        arrival[seq] = max(arrival.get(seq, 0.0), at - due)
    open_bad = check(recs, chain.source.payload, range(OPEN_MSGS))
    return {
        "late": chain.source.late,
        "pass_s": closed_s,
        "latencies": sorted(arrival.values()),
        "ticks": ticks,
        "bad": closed_bad + open_bad,
        "closed_bad": closed_bad,
        "open_bad": open_bad,
        "probes": (closed_probe, open_probe),
    }


def setup_probe_s() -> float:
    """Wall time of one fresh process from start to a wired, bootstrapped
    chain."""
    t0 = time.perf_counter()
    proc = subprocess.Popen([sys.executable, os.path.abspath(__file__)],
                            stdout=subprocess.PIPE, text=True)
    line = proc.stdout.readline()
    elapsed = time.perf_counter() - t0
    proc.stdout.read()
    if proc.wait() != 0 or line.strip() != "ready":
        raise RuntimeError("set-up probe failed")
    return elapsed


def run(seed: int, seconds: float, trace: bool):
    from common import CoTenancyMeter, median, percentile, rss_hwm_mb

    # The chain is GIL-bound Python threads: one core at a time does the
    # work, and handing the GIL between cores adds +-20% noise per pass.
    os.sched_setaffinity(0, {max(os.sched_getaffinity(0))})
    rng = random.Random(seed)
    payloads = [rng.getrandbits(32) for _ in range(4096)]
    fails = frozenset(rng.sample(range(CLOSED_MSGS), int(FAIL_SHARE * CLOSED_MSGS)))
    meter = CoTenancyMeter()
    setups = [setup_probe_s() for _ in range(SETUP_PROBES)]
    scrapes: list[float] = []
    # The full-queue teardown shares the run's time with the passes.
    teardown_s, teardown_alive, teardown_bad = full_queue_teardown(payloads, fails, scrapes)
    n_passes = max(MIN_PASSES, round((seconds - TEARDOWN_S) / PASS_S))
    passes = [one_pass(payloads, fails, trace, scrapes) for _ in range(n_passes)]
    external_s, external_cores = meter.read()

    def mid(key):
        return median([p[key] for p in passes])

    lat = [x for p in passes for x in p["latencies"]]
    metrics = {
        "setup_s": (median(setups), "s"),
        "pass_s": (mid("pass_s"), "s"),
    }
    layer = {
        "msg_latency_p50_ms": (1000 * percentile(lat, 50), "ms"),
        "msg_latency_p99_ms": (1000 * percentile(lat, 99), "ms"),
        "generator.late_p99_ms": (1000 * percentile([x for p in passes for x in p["late"]], 99), "ms"),
        "runtime.teardown_ms": (1000 * teardown_s, "ms"),
        "runtime.stages_alive_after_teardown": (teardown_alive, "count"),
        "prometheus.scrape_ms": (1000 * median(scrapes), "ms"),
        "driver.rss_hwm_mb": (rss_hwm_mb(os.getpid()), "MB"),
        "host.external_cores": (external_cores, "cores"),
    }
    if trace:
        for i, phase in enumerate(("closed", "open")):
            probes = [p["probes"][i] for p in passes]
            layer[f"messaging.{phase}.send_blocked_s"] = (median([q.send_s for q in probes]), "s")
            layer[f"messaging.{phase}.recv_wait_s"] = (median([q.recv_s for q in probes]), "s")
            layer[f"messaging.{phase}.queue_depth_mean"] = (
                sum(q.depth_sum for q in probes) / max(sum(q.depth_n for q in probes), 1), "count")
        closed = [p["probes"][0] for p in passes]
        both = [q for p in passes for q in p["probes"]]
        layer.update({
            "runtime.ticks_per_msg": (mid("ticks") / CLOSED_MSGS, "count"),
            "runtime.execute_s": (median([q.execute_s for q in closed]), "s"),
            "retries.retried_units": (sum(q.retried for q in both) / len(passes), "count"),
            "retries.backoff_s": (sum(q.backoff_s for q in both) / len(passes), "s"),
            "trace.pass_s": (mid("pass_s"), "s"),
        })
    lost = teardown_bad + sum(p["bad"] for p in passes)
    # operations: every message, plus each of the 4 stages ending at the teardown
    attempted = TEARDOWN_MSGS + 4 + len(passes) * (CLOSED_MSGS + OPEN_MSGS)
    detail = {
        "workload": "stage_pipeline", "seed": seed, "setups_s": setups,
        "passes_s": [p["pass_s"] for p in passes],
        "full_queue_teardown": {"ms": 1000 * teardown_s, "stages_alive": teardown_alive,
                                "lost_or_duplicated": teardown_bad},
        "lost_or_duplicated": [[p["closed_bad"], p["open_bad"]] for p in passes],
        "external_cpu_s": external_s, "external_cores": external_cores,
        "messages": {"msgs_per_s": CLOSED_MSGS / mid("pass_s"),
                     **{k: layer[k][0] for k in ("msg_latency_p50_ms", "msg_latency_p99_ms")}},
    }
    return lost == 0, attempted, lost + teardown_alive, metrics, layer, detail


if __name__ == "__main__":
    stages = build([1], frozenset(), 0, None, Probe(False))
    tethers = [spawn_stage(s, POLICY) for s in stages]
    while any(t.phase is StagePhase.BOOTSTRAP for t in tethers):
        time.sleep(0.0005)
    print("ready", flush=True)
    for t in tethers:
        t.join_stage(timeout=10.0)
