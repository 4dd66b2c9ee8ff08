"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload batch_headline|stream_live_peak
                             --seed N --seconds S --trace 0|1
                             [--spark-cores C]

Run from the repository root. Prints a report line (every metric by
name and unit, the seed and host context) and, as the last line, one
JSON object ``{"correct", "attempted", "failed", "metrics"}`` holding
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). A traced run also writes its spans to
``perfbench/_work/trace-<workload>-<seed>.json``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch_headline", "stream_live_peak")

# (name, unit, better): gated end-to-end metrics, reported by every
# workload. latency_* is the workload's user-visible result latency (a
# headline query's construct-to-rows time; an event's due-to-sink time),
# at the median and the highest percentile with >= 10 samples beyond
# it; throughput_per_s is queries/s of query time, or accepted events
# per second that reach the sink; cpu_ms_per_op is the CPU the system
# under test (driver JVM, driver Python, gateway) spends per query or
# per accepted event. CPU time excludes time a vCPU is stolen by the
# host, so it is the figure least moved by neighbours on a shared VM.
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("latency_p50_ms", "ms", "lower"),
    ("latency_tail_ms", "ms", "lower"),
    ("throughput_per_s", "1/s", "higher"),
    ("cpu_ms_per_op", "ms", "lower"),
)


def _per_layer() -> tuple:
    rows = [("session.build_s", "s", "lower")]
    for fam in ("events", "llm"):
        rows += [(f"operators.construct_s.{fam}", "s", "lower"),
                 (f"catalyst.plan_s.{fam}", "s", "lower"),
                 (f"exec.exec_s.{fam}", "s", "lower")]
        for c, unit in (("rows_scanned", "count"), ("scan_bytes", "bytes"),
                        ("shuffle_write_bytes", "bytes"),
                        ("spill_bytes", "bytes"), ("broadcast_bytes", "bytes"),
                        ("stages", "count"), ("tasks", "count")):
            rows.append((f"exec.{c}.{fam}", unit, "lower"))
    rows += [
        ("caches.build_s", "s", "lower"), ("caches.bytes", "bytes", "lower"),
        ("jvm.gc_s", "s", "lower"), ("jvm.cpu_s", "s", "lower"),
        ("driver.cpu_s", "s", "lower"),
        ("gateway.accepted", "count", "higher"),
        ("gateway.rejected_503", "count", "lower"),
        ("gateway.flushed", "count", "higher"),
        ("gateway.spool_files", "count", "lower"),
        ("gateway.events_per_file", "count", "higher"),
        ("gateway.spool_delay_p50_s", "s", "lower"),
        ("gateway.spool_delay_p99_s", "s", "lower"),
        ("gateway.ack_p50_ms", "ms", "lower"),
        ("gateway.ack_p99_ms", "ms", "lower"),
        ("gateway.cpu_s", "s", "lower"), ("gateway.rss_mb", "MB", "lower"),
    ]
    for ph in ("latestOffset", "getBatch", "queryPlanning", "addBatch",
               "walCommit", "commitOffsets", "triggerExecution"):
        rows += [(f"trigger.{ph}_ms.p50", "ms", "lower"),
                 (f"trigger.{ph}_ms.p99", "ms", "lower")]
    rows += [
        ("trigger.rows_per_batch", "count", "higher"),
        ("source.backlog_rows", "count", "lower"),
        ("state.rows_total", "count", "lower"),
        ("state.memory_bytes", "bytes", "lower"),
        ("state.rows_dropped_by_watermark", "count", "lower"),
        ("sink.rows_emitted", "count", "higher"),
        ("sink.table_rows", "count", "lower"),
        ("serve.stats_ms", "ms", "lower"),
        ("serve.emoji_data_ms", "ms", "lower"),
        ("serve.total_data_ms", "ms", "lower"),
        ("serve.spark_jobs", "count", "lower"),
        ("serve.latency_p50_ms", "ms", "lower"),
        ("generator.lag_p99_ms", "ms", "lower"),
        ("trace.overhead_pct", "%", "lower"),
    ]
    rows += [(f"self_s.{layer}", "s", "lower") for layer in SELF_LAYERS]
    return tuple(rows)


# Layers that spans are recorded for; self time is reported per layer.
SELF_LAYERS = ("session", "caches", "warmup", "bench", "query", "operators",
               "catalyst", "exec", "streaming.core", "gateway", "trigger",
               "source", "commit", "serve")
PER_LAYER = _per_layer()


def _number(v) -> float:
    v = float(v)
    return v if math.isfinite(v) else 0.0  # NaN is not JSON


def _parse(argv):
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spark-cores", type=int, default=0,
                    help="Spark local cores (default: all; 1 = the "
                         "single-threaded baseline)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    import engine
    import host
    import stats

    try:
        engine.module("plans.registry")
        engine.module("streaming.ingest")
    except ImportError as ex:
        print(f"perfbench: cannot import the engine: {ex}", file=sys.stderr)
        return 2
    tmp = os.path.join(engine.WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every scratch file stays in the work directory; children inherit it
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(engine.WORK, "spark-local")
    # the short-lived JVM that spark-submit runs to build its command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp
    args.cores = args.spark_cores or host.nproc()
    args.driver_mem = host.driver_memory()
    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": host.nproc(),
        "SPARK_GRAFT_CPUS": args.cores, "driver_memory": args.driver_mem,
        "load1_before": host.load1(),
    }
    tracer = stats.Tracer(bool(args.trace))
    host.adopt_orphans()
    try:
        if args.workload == "batch_headline":
            import batch

            result = batch.run(args, tracer)
        else:
            import stream

            result = stream.run(args, tracer)
    finally:
        # no process the run started, or left orphaned, outlives it
        host.reap_children()
    context["load1_after"] = host.load1()

    layer = result["per_layer"]
    for name, secs in stats.self_times(tracer.spans).items():
        layer[f"self_s.{name}"] = secs
    named = {k: {"value": v, "unit": u} for k, (v, u) in
             {**result["metrics"], **result["report"]}.items()}
    print(json.dumps({"report": named, "host": context,
                      "details": result["details"]}))
    for k, m in named.items():
        print(f"# {k:32s} {m['value']:>14.4f} {m['unit']}", file=sys.stderr)
    if args.trace:
        path = os.path.join(engine.WORK, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"host": context, "spans": tracer.spans,
                       "per_layer": layer}, f)
        metrics = {n: {"value": _number(layer.get(n, 0.0)), "unit": u}
                   for n, u, _ in PER_LAYER}
    else:
        metrics = {n: {"value": _number(result["metrics"][n][0]), "unit": u}
                   for n, u, _ in END_TO_END}
    print(json.dumps({"correct": bool(result["correct"]),
                      "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
