"""Helpers shared by the benchmark workloads: process memory, process
age, the co-tenancy meter and the result line."""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_CLK_TCK = os.sysconf("SC_CLK_TCK")


MODULES = ("dedup", "similarity", "text", "multimodal", "relational", "scalar",
           "windows", "graph", "warehouse")
# Every per-layer metric and its unit. A traced run reports all of them;
# a layer the workload never calls into reads 0.
PER_LAYER = [
    ("session.get_session_s", "s"), ("registry.all_queries_s", "s"),
    ("session.warmup_s", "s"), ("tables.scan_s", "s"), ("tables.scan_tasks", "count"),
    *[(f"{m}.{k}", u) for m in MODULES for k, u in (
        ("build_s", "s"), ("exec_s", "s"), ("build_jobs", "count"), ("exec_jobs", "count"),
        ("stages", "count"), ("tasks", "count"), ("failed_tasks", "count"))],
    ("jvm.rss_hwm_mb", "MB"), ("driver.rss_hwm_mb", "MB"),
    ("workers.rss_hwm_mb", "MB"), ("workers.count", "count"),
    *[(f"messaging.{ph}.{k}", u) for ph in ("closed", "open") for k, u in (
        ("send_blocked_s", "s"), ("recv_wait_s", "s"), ("queue_depth_mean", "count"))],
    ("runtime.ticks_per_msg", "count"), ("runtime.execute_s", "s"),
    ("retries.retried_units", "count"), ("retries.backoff_s", "s"),
    ("runtime.teardown_ms", "ms"),
    ("runtime.stages_alive_after_teardown", "count"),
    ("prometheus.scrape_ms", "ms"), ("msg_latency_p50_ms", "ms"), ("msg_latency_p99_ms", "ms"),
    ("generator.late_p99_ms", "ms"),
    ("trace.pass_s", "s"), ("host.external_cores", "cores"),
]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def process_age_s() -> float:
    """Seconds since this process was started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _CLK_TCK


def rss_hwm_mb(pid: int) -> float:
    """High-water resident set size of one process, in MB (0 if gone)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` in the process tree."""
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class CoTenancyMeter:
    """External CPU core-seconds burned on the host while the meter runs:
    host busy CPU minus this session's own CPU, the method of
    ``bench._cpu_totals``."""

    def __init__(self) -> None:
        sys.path.insert(0, ROOT)
        from bench import _cpu_totals

        self._totals = _cpu_totals
        self._t0 = time.perf_counter()
        self._busy0, self._own0 = _cpu_totals()

    def read(self) -> tuple[float, float]:
        """(external core-seconds, mean external cores) so far."""
        busy, own = self._totals()
        external = max((busy - self._busy0) - (own - self._own0), 0.0)
        return external, external / max(time.perf_counter() - self._t0, 1e-9)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def percentile(values, q: int) -> float:
    """The q-th percentile (inclusive interpolation) of ``values``."""
    if len(values) < 2:
        return float(values[0]) if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def emit(correct: bool, attempted: int, failed: int, metrics: dict, detail: dict,
         trace: bool) -> None:
    """Print the run's detail line, then the result as the last stdout line."""
    if trace:
        metrics = {name: metrics.get(name, (0.0, unit)) for name, unit in PER_LAYER}
    print(json.dumps({"detail": detail}, sort_keys=True))
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
