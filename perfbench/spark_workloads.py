"""The two Spark workloads, ``curation`` and ``analytics``.

One run: generate the seed's tables (sf0.1 for the timed passes, sf0.01
for the output check), start the session, import the catalog, then run
every query of the workload once at sf0.01 with ``collect()``. That pass
warms every code path and its rows are compared with the DuckDB twin of
each query. Then timed passes at sf0.1 write each query to the noop sink
until ``--seconds`` is used up; at least one pass always runs.

With ``--trace 1`` the timed passes are traced: every query phase gets
its own Spark job group, ``<query>:build`` around the ``q_*`` call (eager
checkpoint jobs run there) and ``<query>:exec`` around the noop write.
Jobs, stages and tasks are read from ``statusTracker()`` after the pass,
outside its timing. A noop scan of every table the queries read follows.
"""

from __future__ import annotations

import importlib.util
import os
import random
import subprocess
import sys
import time

from common import (
    MODULES, ROOT, CoTenancyMeter, descendants, median, nproc, process_age_s, rss_hwm_mb,
)

WORKLOADS = {
    "curation": [
        "dedup_exact", "dedup_incremental", "dedup_minhash_lsh", "dedup_simhash",
        "dedup_embedding_lsh", "dedup_components_lsh",
        "similarity_topk", "similarity_ann_lsh", "bitext_margin_mine",
        "text_token_counts", "text_quality_score", "text_tfidf_top", "text_span_dedup",
        "multimodal_features",
    ],
    # Eight of the sixteen Catalyst-native queries, one or more per
    # module: all sixteen do not fit the run budget next to curation.
    "analytics": [
        "flagship_revenue_by_region", "agg_hash", "asof_join", "tpch_q21_late_supplier",
        "json_funcs",
        "stream_session",
        "graph_triangles",
        "merge_into",
    ],
}
TIMED_SF, CHECK_SF = 0.1, 0.01


def _verify_helpers():
    """The row comparison of scripts/verify_local.py, loaded without
    leaving that script's import-path edits behind."""
    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location(
        "verify_local", os.path.join(ROOT, "scripts", "verify_local.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    sys.path[:] = saved
    return mod


def _group_counts(tracker, group: str) -> dict[str, int]:
    """Jobs of a job group, and the stages that ran for them with their
    completed and failed tasks, from the status tracker."""
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = failed = 0
    for sid in stage_ids:
        st = tracker.getStageInfo(sid)
        if st is not None and st.numCompletedTasks > 0:
            stages += 1
            tasks += st.numCompletedTasks
            failed += st.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


def _check(spark, queries, oracles, names, check_dir, vl):
    """Run every query once at the check scale; return (per-query seconds
    spent in the program, per-query status)."""
    import duckdb
    from gasket_rs_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{check_dir}/{t}.parquet')")
    warm, status = {}, {}
    for name in names:
        t0 = time.perf_counter()
        try:
            df = queries[name](spark, check_dir)
            bad = vl._driver_unsortable_columns(df.schema) if name in oracles else []
            rows = df.collect()
        except Exception as err:  # noqa: BLE001 — a failing query is a failed operation
            warm[name] = time.perf_counter() - t0
            status[name] = f"FAIL spark error: {type(err).__name__}"
            continue
        warm[name] = time.perf_counter() - t0
        if bad:
            status[name] = f"FAIL unsortable columns {bad}"
            continue
        cols = sorted(df.columns)
        srows = sorted((tuple(vl.canon(r[c]) for c in cols) for r in rows), key=vl.sort_key)
        if name not in oracles:
            status[name] = f"rows-only ({len(srows)} rows)"
            continue
        try:
            rel = con.execute(oracles[name])
            dcols = [d[0] for d in rel.description]
            drows_raw = rel.fetchall()
        except Exception as err:  # noqa: BLE001
            status[name] = f"FAIL duckdb error: {type(err).__name__}"
            continue
        order = sorted(range(len(dcols)), key=lambda i: dcols[i])
        if [dcols[i] for i in order] != cols:
            status[name] = f"FAIL columns {cols} vs {sorted(dcols)}"
            continue
        drows = sorted((tuple(vl.canon(r[i]) for i in order) for r in drows_raw), key=vl.sort_key)
        ok, detail = vl.rows_match(srows, drows)
        status[name] = (detail.split(" ")[0] if ok else "FAIL " + detail) + f" ({len(srows)} rows)"
    con.close()
    return warm, status


def _timed_pass(spark, queries, names, sf_dir, tag: str, traced: bool, keep: bool):
    """One pass over the workload; returns (wall seconds, per-query
    (build_s, exec_s), failed query names, the built DataFrames if
    ``keep``). Traced, every query phase runs in its own job group,
    ``<tag>:<query>:build|exec``."""
    from gasket_rs_spark.session import clear_caches

    sc = spark.sparkContext
    clear_caches(spark)
    per, failed, frames = {}, [], {}
    t_pass = time.perf_counter()
    for name in names:
        try:
            if traced:
                sc.setJobGroup(f"{tag}:{name}:build", name)
            t0 = time.perf_counter()
            df = queries[name](spark, sf_dir)
            t1 = time.perf_counter()
            if traced:
                sc.setJobGroup(f"{tag}:{name}:exec", name)
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            per[name] = (t1 - t0, t2 - t1)
            if keep:
                frames[name] = df
            del df
        except Exception:  # noqa: BLE001 — counted as a failed operation
            failed.append(name)
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
    return time.perf_counter() - t_pass, per, failed, frames


def _settle(spark, limit_s: float = 5.0) -> float:
    """Let the warm-up's after-effects finish before timing: collect the
    heaps, then wait until the JIT compiler has been idle for half a
    second (at most ``limit_s``). Returns the seconds waited."""
    import gc

    gc.collect()
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    t0 = time.perf_counter()
    last = jit.getTotalCompilationTime()
    while time.perf_counter() - t0 < limit_s:
        time.sleep(0.5)
        now = jit.getTotalCompilationTime()
        if now == last:
            break
        last = now
    return time.perf_counter() - t0


def _stop(spark, workers: list[int]) -> None:
    """Stop the session, end the JVM and wait until it and its Python
    workers have exited."""
    import signal

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits when this pipe closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in workers:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _scan_tables(spark, tables, sf_dir):
    from gasket_rs_spark.tables import load

    sc = spark.sparkContext
    sc.setJobGroup("tables:scan", "noop scan")
    t0 = time.perf_counter()
    for t in sorted(tables):
        load(spark, sf_dir, t).write.format("noop").mode("overwrite").save()
    elapsed = time.perf_counter() - t0
    sc.setLocalProperty("spark.jobGroup.id", None)
    return elapsed, _group_counts(sc.statusTracker(), "tables:scan")["tasks"]


def run(workload: str, seed: int, seconds: float, trace: bool, work: str):
    names = list(WORKLOADS[workload])
    random.Random(seed).shuffle(names)

    from gasket_rs_spark.session import get_session

    t_imports = process_age_s()
    meter = CoTenancyMeter()
    # A child process writes the tables, so its memory stays out of the
    # Spark driver process's high-water RSS.
    subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "datagen.py"), str(seed),
                    work, str(TIMED_SF), str(CHECK_SF)], check=True)
    timed_dir, check_dir = os.path.join(work, f"sf{TIMED_SF}"), os.path.join(work, f"sf{CHECK_SF}")

    t0 = time.perf_counter()
    spark = get_session(f"perfbench-{workload}", cpus=nproc())
    get_session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    from gasket_rs_spark import registry

    queries, oracles = registry.all_queries(), registry.all_oracles()
    all_queries_s = time.perf_counter() - t0

    vl = _verify_helpers()
    warm, status = _check(spark, queries, oracles, names, check_dir, vl)
    warmup_s = sum(warm.values())
    setup_s = t_imports + get_session_s + all_queries_s + warmup_s
    check_failed = sorted(n for n, s in status.items() if s.startswith("FAIL"))
    failed_ops = list(check_failed)

    settle_s = _settle(spark)
    tracker = spark.sparkContext.statusTracker()
    passes, per_pass = [], []
    start = time.perf_counter()
    while True:
        tag = f"pass{len(passes)}"
        first = trace and not passes
        wall, per, failed, frames = _timed_pass(spark, queries, names, timed_dir, tag, trace, first)
        failed_ops += failed
        passes.append(wall)
        per_pass.append(per)
        if first:
            first_frames = frames
            first_counts = {(n, ph): _group_counts(tracker, f"{tag}:{n}:{ph}")
                            for n in names for ph in ("build", "exec")}
        del frames
        if time.perf_counter() - start + median(passes) > seconds:
            break
    pass_s = median(passes)

    layer = {}
    if trace:
        for m in MODULES:
            mq = [n for n in names if queries[n].__module__.rsplit(".", 1)[1] == m]
            build = [first_counts[n, "build"] for n in mq]
            execs = [first_counts[n, "exec"] for n in mq]
            for i, k in enumerate(("build_s", "exec_s")):
                layer[f"{m}.{k}"] = (median([sum(per[n][i] for n in mq if n in per)
                                             for per in per_pass]), "s")
            layer[f"{m}.build_jobs"] = (sum(c["jobs"] for c in build), "count")
            layer[f"{m}.exec_jobs"] = (sum(c["jobs"] for c in execs), "count")
            for k in ("stages", "tasks", "failed_tasks"):
                layer[f"{m}.{k}"] = (sum(c[k] for c in build + execs), "count")
        read = {os.path.basename(f).split(".")[0]
                for df in first_frames.values() for f in df.inputFiles()}
        del first_frames
        scan_s, scan_tasks = _scan_tables(spark, read, timed_dir)
        layer.update({
            "session.get_session_s": (get_session_s, "s"),
            "registry.all_queries_s": (all_queries_s, "s"),
            "session.warmup_s": (warmup_s, "s"),
            "tables.scan_s": (scan_s, "s"),
            "tables.scan_tasks": (scan_tasks, "count"),
            "trace.pass_s": (pass_s, "s"),
        })

    external_s, external_cores = meter.read()
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    workers = descendants(jvm_pid)
    jvm_mb, driver_mb = rss_hwm_mb(jvm_pid), rss_hwm_mb(os.getpid())
    workers_mb = sum(rss_hwm_mb(p) for p in workers)
    _stop(spark, workers)

    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_s": (pass_s, "s"),
    }
    layer.update({
        "jvm.rss_hwm_mb": (jvm_mb, "MB"),
        "driver.rss_hwm_mb": (driver_mb, "MB"),
        "workers.rss_hwm_mb": (workers_mb, "MB"),
        "workers.count": (len(workers), "count"),
        "host.external_cores": (external_cores, "cores"),
    })
    detail = {
        "workload": workload, "seed": seed, "order": names, "passes_s": passes,
        "queries_s": per_pass,
        "warmup_s": warm, "setup_s": setup_s, "settle_s": settle_s,
        "oracle": status, "failed": failed_ops, "external_cpu_s": external_s,
        "external_cores": external_cores, "rss_hwm_mb": {"jvm": jvm_mb, "driver": driver_mb},
    }
    attempted = len(names) * (1 + len(passes))
    return not check_failed, attempted, len(failed_ops), metrics, layer, detail
