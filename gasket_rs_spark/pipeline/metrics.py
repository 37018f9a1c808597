"""Per-stage metrics registry — parity with gasket/src/metrics.rs:4-111
(named counters/gauges, snapshot via collect_readings).

Thread-safe the same way the reference is lock-free: ``Counter.inc`` and
``Gauge.set`` update under a tiny lock (the GIL alone does not make
``+=`` atomic between writers). The stage tick counter ``tick_count`` has
one writer, its stage's own thread, which advances it as
``counter.value += 1`` with no lock; a reader on any other thread always
sees a whole int, so the readings stay exact.

For metrics *inside* Spark jobs, stages use ``pyspark.sql.Observation``
(see dataframe_pipeline.py) and publish the observed values back into this
registry, so one registry serves both orchestration- and data-plane
metrics — mirroring how every reference stage exposes one metrics registry
(framework.rs:16-17).
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field


class Counter:
    __slots__ = ("value", "_lock")

    def __init__(self) -> None:
        self.value = 0
        self._lock = threading.Lock()

    def inc(self, n: int = 1) -> None:
        with self._lock:
            self.value += n


class Gauge:
    __slots__ = ("value", "_lock")

    def __init__(self) -> None:
        self.value = 0.0
        self._lock = threading.Lock()

    def set(self, v: float) -> None:
        with self._lock:
            self.value = v


@dataclass
class Registry:
    """Named metrics for one stage (metrics.rs:59-111)."""

    _metrics: dict[str, Counter | Gauge] = field(default_factory=dict)

    def track_counter(self, name: str) -> Counter:
        c = self._metrics.setdefault(name, Counter())
        if not isinstance(c, Counter):
            raise TypeError(f"metric {name!r} already registered as {type(c).__name__}")
        return c

    def track_gauge(self, name: str) -> Gauge:
        g = self._metrics.setdefault(name, Gauge())
        if not isinstance(g, Gauge):
            raise TypeError(f"metric {name!r} already registered as {type(g).__name__}")
        return g

    def collect_readings(self) -> dict[str, float]:
        return {name: m.value for name, m in self._metrics.items()}


def render_prometheus(stage_readings: dict[str, dict[str, float]]) -> str:
    """Render all stages' readings in Prometheus text exposition format —
    parity with gasket-prometheus/src/lib.rs:51-77 (stage_metric lines)."""
    lines: list[str] = []
    for stage, readings in sorted(stage_readings.items()):
        for metric, value in sorted(readings.items()):
            lines.append(f'{metric}{{stage="{stage}"}} {value}')
    return "\n".join(lines) + "\n"
