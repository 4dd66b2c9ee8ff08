"""``batch_headline``: a closed loop over the registry's headline
queries, one at a time, on ``local[nproc]``.

Set-up (timed as ``setup_s``): session, the dedup shingle-set session
cache, and one warm-up pass. Then whole passes run until ``seconds``
have passed (at least two), each in an order shuffled by the seed. Every
execution is checked, untimed, against its DuckDB oracle's digest.
With tracing on, odd passes split each query into construct / plan /
execute and read the executed plan's SQLMetrics and the job's stages;
even passes stay untraced, and the two give the tracing overhead.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import resource
import statistics
import sys
import time
from contextlib import nullcontext

import datagen
import engine
import host
import stats

# Fixture size. Scale 0.01 of the fixture tables (60k lineitem, 10k
# events, 500 documents) keeps one warm pass near 12 s on 4 cores, so
# set-up plus two passes fits the per-run budget; see README.md.
SCALE = 0.01
DATA_SEED = 42
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
# Query families by defining module: the LLM-data operators; all others
# (tpch*, joins, timeseries, growth, analytics) are relational/events.
LLM_MODULES = {"dedup", "similarity", "corpus", "text", "multimodal"}
FAMILIES = ("events", "llm")
# At least two measured passes (medians of per-pass sums; latency over
# all executions). A third measured pass did not narrow the run-to-run
# spread, which is set by the host and the JVM, not by the sample count.
MIN_PASSES = 2
COUNTERS = ("rows_scanned", "scan_bytes", "shuffle_write_bytes",
            "spill_bytes", "broadcast_bytes", "stages", "tasks")


def family(spec) -> str:
    mod = spec.fn.__module__.rsplit(".", 1)[-1]
    return "llm" if mod in LLM_MODULES else "events"


def _data_key(data_dir: str) -> str:
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def expected_digests(specs, data_dir: str, cache_path: str) -> dict:
    """Oracle digest per query, computed with DuckDB once per (fixture,
    oracle text) and kept in ``cache_path``."""
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    data_key = _data_key(data_dir)
    con, out = None, {}
    for name, spec in specs.items():
        if spec.oracle is None:
            raise RuntimeError(f"headline query {name} has no oracle")
        key = hashlib.sha256((data_key + spec.oracle).encode()).hexdigest()
        if key not in cache:
            if con is None:
                import duckdb

                con = duckdb.connect()
                con.execute(f"SET temp_directory = '{engine.WORK}/tmp/duckdb'")
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{data_dir}/{t}.parquet')")
            res = con.execute(spec.oracle)
            cache[key] = stats.result_digest(
                [c[0] for c in res.description], res.fetchall())
        out[name] = cache[key]
    if con is not None:
        con.close()
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, cache_path)
    return out


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def plan_counters(df) -> dict:
    """Work counters from the executed (AQE final) plan's SQLMetrics:
    rows and bytes read by scans, shuffle bytes written, spill and
    broadcast sizes. Reused exchanges are counted once, where built."""
    out = dict.fromkeys(COUNTERS[:5], 0)
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls.startswith("Reused"):
            continue
        m = node.metrics()

        def val(key):
            return m.apply(key).value() if m.contains(key) else 0

        if cls in ("FileSourceScanExec", "InMemoryTableScanExec",
                   "BatchScanExec", "LocalTableScanExec"):
            out["rows_scanned"] += val("numOutputRows")
            out["scan_bytes"] += val("filesSize")
        elif cls == "ShuffleExchangeExec":
            out["shuffle_write_bytes"] += val("shuffleBytesWritten")
        elif cls == "BroadcastExchangeExec":
            out["broadcast_bytes"] += val("dataSize")
        out["spill_bytes"] += val("spillSize")
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))
    return out


def job_counters(sc, group: str) -> dict:
    """Stages that ran and tasks completed for one job group."""
    tracker = sc.statusTracker()
    stages = tasks = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            st = tracker.getStageInfo(sid)
            if st and st.numCompletedTasks > 0:
                stages += 1
                tasks += st.numCompletedTasks
    return {"stages": stages, "tasks": tasks}


def _storage_bytes(sc) -> int:
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def _driver_cpu_s() -> float:
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return ru.ru_utime + ru.ru_stime


def run(args, tracer) -> dict:
    os.makedirs(engine.WORK, exist_ok=True)
    data_dir = datagen.build(
        os.path.join(engine.WORK, f"fixture-{SCALE}-{DATA_SEED}"),
        SCALE, DATA_SEED)
    specs = engine.module("plans.registry").headline_specs()
    expected = expected_digests(
        specs, data_dir, os.path.join(engine.WORK, "oracle_digests.json"))

    t_start = time.perf_counter()
    with tracer.span("session", "session"):
        spark = engine.start_session(args.cores, args.driver_mem, "perfbench_batch")
    session_s = time.perf_counter() - t_start
    sc = spark.sparkContext
    attempted = failed = 0
    mismatches: list[str] = []
    execs: list[dict] = []
    layer: dict = {}
    try:
        dedup = engine.module("operators.dedup")
        t0 = time.perf_counter()
        with tracer.span("caches.build", "caches"):
            dedup._hashed_shingle_sets(spark, data_dir).count()
        caches_build_s = time.perf_counter() - t0
        names = sorted(specs)
        with tracer.span("warmup", "warmup"):
            for name in names:
                try:
                    specs[name].fn(spark, data_dir).collect()
                except Exception:  # noqa: BLE001 — counted in the measured passes
                    pass
        setup_s = time.perf_counter() - t_start
        caches_bytes = _storage_bytes(sc)

        rng = random.Random(args.seed)
        jpid = host.jvm_pid(spark)
        cpu0, gc0, drv0 = host.cpu_s(jpid), host.jvm_gc_s(spark), _driver_cpu_s()
        counters = {f: dict.fromkeys(COUNTERS, 0) for f in FAMILIES}
        t_meas = time.perf_counter()
        p = 0
        # traced runs bracket each traced pass with untraced ones, so
        # the overhead estimate is not the later passes' warm-up gain
        min_passes = MIN_PASSES + 1 if tracer.enabled else MIN_PASSES
        while p < min_passes or time.perf_counter() - t_meas < args.seconds:
            order = list(names)
            rng.shuffle(order)
            traced = tracer.enabled and p % 2 == 1
            with tracer.span(f"pass{p}", "bench") if traced else nullcontext():
                for name in order:
                    rec = _execute(spark, specs[name], data_dir, p, traced,
                                   tracer, counters if p == 1 and traced else None)
                    attempted += 1
                    if rec["error"] is None:
                        bad = stats.digest_mismatch(expected[name], rec.pop("digest"))
                        if bad:
                            rec["error"] = f"oracle mismatch: {bad}"
                    if rec["error"] is not None:
                        failed += 1
                        mismatches.append(f"pass {p} {name}: {rec['error']}")
                    execs.append(rec)
            p += 1
        meas_s = time.perf_counter() - t_meas
        layer.update({
            "jvm.gc_s": host.jvm_gc_s(spark) - gc0,
            "jvm.cpu_s": host.cpu_s(jpid) - cpu0,
            "driver.cpu_s": _driver_cpu_s() - drv0,
        })
    finally:
        engine.stop_session(spark)

    for m in mismatches:
        print(f"# FAILED {m}", file=sys.stderr)
    ok = [e for e in execs if e["error"] is None]
    lat_ms = [e["total_s"] * 1000.0 for e in ok]
    lat = stats.summary(lat_ms)
    untraced = [e for e in execs if not e["traced"]]
    traced = [e for e in execs if e["traced"]]

    def pass_sums(rows, key, fam=None):
        sums: dict[int, float] = {}
        for e in rows:
            if fam is None or e["family"] == fam:
                sums[e["pass"]] = sums.get(e["pass"], 0.0) + e[key]
        return sums

    def med_pass(rows, key="total_s", fam=None):
        sums = pass_sums(rows, key, fam)
        return statistics.median(sums.values()) if sums else 0.0

    metrics = {
        "setup_s": (setup_s, "s"),
        "latency_p50_ms": (lat["p50"], "ms"),
        "latency_tail_ms": (lat["tail"], "ms"),
        "throughput_per_s": (len(ok) / max(1e-9, sum(e["total_s"] for e in ok)), "1/s"),
        "cpu_ms_per_op": (1000.0 * (layer["jvm.cpu_s"] + layer["driver.cpu_s"])
                          / max(1, len(execs)), "ms"),
    }
    report = {
        "batch_total_s": (med_pass(untraced), "s"),
        "batch_events_s": (med_pass(untraced, fam="events"), "s"),
        "batch_llm_s": (med_pass(untraced, fam="llm"), "s"),
        "error_ratio": (failed / max(1, attempted), "ratio"),
        "latency_tail_pct": (lat["tail_pct"], "pct"),
        "latency_samples": (lat["n"], "count"),
        "passes": (p, "count"),
        "measured_s": (meas_s, "s"),
    }
    layer.update({
        "session.build_s": session_s,
        "caches.build_s": caches_build_s,
        "caches.bytes": caches_bytes,
    })
    for fam in FAMILIES:
        layer[f"operators.construct_s.{fam}"] = med_pass(traced, "construct_s", fam)
        layer[f"catalyst.plan_s.{fam}"] = med_pass(traced, "plan_s", fam)
        layer[f"exec.exec_s.{fam}"] = med_pass(traced, "exec_s", fam)
        for c in COUNTERS:
            layer[f"exec.{c}.{fam}"] = counters[fam][c]
    if traced and untraced:
        layer["trace.overhead_pct"] = 100.0 * (med_pass(traced) / med_pass(untraced) - 1.0)
    per_query = {}
    for e in ok:
        per_query.setdefault(e["name"], []).append(round(e["total_s"], 4))
    return {"metrics": metrics, "report": report, "per_layer": layer,
            "attempted": attempted, "failed": failed,
            "correct": not mismatches, "details": {"per_query_s": per_query}}


def _execute(spark, spec, data_dir, p, traced, tracer, counters) -> dict:
    """One query: timed construct (+ plan when traced) + collect, then
    untimed digest and, on the first traced pass, the work counters."""
    fam = family(spec)
    rec = {"name": spec.name, "family": fam, "pass": p, "traced": traced,
           "construct_s": 0.0, "plan_s": 0.0, "exec_s": 0.0, "total_s": 0.0,
           "error": None}
    sc = spark.sparkContext
    group = f"perfbench-{spec.name}-{p}"
    if counters is not None:
        sc.setJobGroup(group, spec.name)
    try:
        t0 = time.perf_counter()
        if traced:
            with tracer.span(spec.name, "query", family=fam):
                with tracer.span("construct", "operators"):
                    df = spec.fn(spark, data_dir)
                t1 = time.perf_counter()
                with tracer.span("plan", "catalyst"):
                    df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                with tracer.span("exec", "exec"):
                    rows = df.collect()
            t3 = time.perf_counter()
            rec.update(construct_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2)
        else:
            df = spec.fn(spark, data_dir)
            rows = df.collect()
            t3 = time.perf_counter()
        rec["total_s"] = t3 - t0
        rec["digest"] = stats.result_digest(df.columns, [tuple(r) for r in rows])
        if counters is not None:
            c = plan_counters(df)
            c.update(job_counters(sc, group))
            for k, v in c.items():
                counters[fam][k] += v
    except Exception as ex:  # noqa: BLE001 — a failed query is counted, not fatal
        rec["error"] = f"{type(ex).__name__}: {str(ex)[:200]}"
    finally:
        if counters is not None:
            sc.setLocalProperty("spark.jobGroup.id", None)
    return rec
