"""``stream_live_peak``: the reference's product, end to end, first at
nominal load and then under overload, in one run.

A client process POSTs seeded events open-loop to one gateway process
(``IngestGateway``); the engine tails its spool (``ingest_stream`` ->
``decode_wire_events``), counts 1-minute tumbling windows under a
1-minute watermark (``windowed_counts_scaled``) on a 2 s trigger in
update mode into ``start_memory_sink``.

- live phase (``seconds`` long): 1,000 events/s, and dashboards
  refresh beside it, each GETting the three ``StatsHttpServer``
  endpoints every 10 s, open-loop;
- peak phase (``seconds`` long, after a short gap): 12,000 events/s
  offered, above what one gateway accepts, no readers. The run fails if
  the backlog of accepted events no trigger has read grows.

Both phases share one set-up (session, gateway, first trigger): a run
is dominated by set-up, and the benchmark's run budget holds one per
run, not two.

Every layer is read from outside: client timestamps, the gateway's
counters, spool file times, ``StreamingQuery.recentProgress`` and the
memory sink's rows. After the run the sink's rows are checked against
a count over the accepted events, and each emitted (emoji, window, cnt)
row is attributed to the cnt-th accepted event of its group.
"""

from __future__ import annotations

import http.client
import json
import math
import multiprocessing as mp
import os
import queue
import select
import shutil
import socket
import sys
import threading
import time
from collections import Counter, deque
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta, timezone

import numpy as np

import engine
import host
import stats

# reference client.py:29 — the emoji vocabulary keys are drawn from
EMOJIS = ("👍", "❤️", "😂", "🎉", "😢", "🔥", "👏", "🏆", "😮", "💔")
ZIPF_S = 1.1  # key skew: P(rank r) ~ r^-s; the seed picks the ranking
BACKDATE_SHARE = 0.1  # share of events stamped up to 30 s in the past,
BACKDATE_MAX_S = 30.0  # inside the 1-minute watermark: none may drop
# Event time runs DILATION times faster than the wall clock, so a run
# of a few tens of seconds spans several 1-minute windows and the
# watermark evicts state while the run is measured.
DILATION = 12.0
EPOCH = datetime(2024, 1, 1)
FIRST_EVENT_S = 60.0  # on-time generator events start in window 1;
WINDOW_S = 60        # window 0 holds the set-up event
TRIGGER_S = 2  # reference spark_consumer.py:52
TRIGGER = f"{TRIGGER_S} seconds"
SINK = "perfbench_counts"
LIVE_RATE = 1000.0  # events/s: the reference's per-client target (client.py:23)
PEAK_RATE = 12000.0  # events/s offered: above what one gateway accepts
# Dashboards open during the live phase. Each refreshes every
# REFRESH_S (reference analytical_server.py:542, setInterval 10 s) by
# GETting the three endpoints, so 5 of them offer 1.5 GETs/s: about a
# third of what the serving path completes beside the live stream on 4
# vCPUs (see README.md).
DASHBOARDS = 5
REFRESH_S = 10.0
PHASE_GAP_S = 3.0  # lets the live phase drain before the peak starts
INFLIGHT = 32  # pipelined POSTs per connection before the sender waits
READ_WORKERS = 8
RAMP_S = 2.0  # goodput skips the first seconds of the peak phase
# Events in window 0 posted before the clock starts: one proves the
# pipeline, one pins the gateway's flush clock (see flush_sync_time).
SETUP_EVENTS = 2
IDLE_SHIP_S = 0.05  # the gateway ships a lone event after this idle gap
# where the live phase's first flushes fall after a trigger boundary,
# mod the gateway's 0.5 s flush interval; the flush clock then drifts
# about 0.15 s later over a 12 s phase, so the run sweeps the middle of
# the 0.5 s range
FLUSH_PHASE_S = 0.16
ENDPOINTS = ("/api/stats", "/api/total-data", "/api/emoji-data")  # refresh order
# micro-batch phases in the order they run, with the layer each charges
PHASES = {"latestOffset": "source", "walCommit": "commit",
          "getBatch": "source", "queryPlanning": "catalyst",
          "addBatch": "exec", "commitOffsets": "commit"}


# ------------------------------------------------------------ schedule


def schedule(seed: int, seconds: float) -> dict:
    """The seeded event stream: due offsets (Poisson arrivals at the
    live rate, then after the gap at the peak rate), phase (0 live,
    1 peak), emoji key index (Zipf) and event time in microseconds
    since ``EPOCH``."""
    rng = np.random.default_rng(seed)
    parts = []
    for rate, start in ((LIVE_RATE, 0.0), (PEAK_RATE, seconds + PHASE_GAP_S)):
        t = np.cumsum(rng.exponential(1.0 / rate, int(rate * seconds * 1.2) + 100))
        parts.append(start + t[t < seconds])
    due = np.concatenate(parts)
    n = len(due)
    weights = 1.0 / np.arange(1, len(EMOJIS) + 1) ** ZIPF_S
    ranking = rng.permutation(len(EMOJIS))
    key = ranking[rng.choice(len(EMOJIS), size=n, p=weights / weights.sum())]
    back = np.where(rng.random(n) < BACKDATE_SHARE,
                    rng.uniform(0.0, BACKDATE_MAX_S, n), 0.0)
    ev_us = np.round((FIRST_EVENT_S + due * DILATION - back) * 1e6).astype(np.int64)
    phase = np.repeat([0, 1], [len(p) for p in parts])
    return {"due": due, "phase": phase, "key": key, "ev_us": ev_us}


def read_schedule(seed: int, seconds: float) -> list[tuple[float, int]]:
    """(due offset, endpoint index) of every dashboard GET in the live
    phase, in due order. Each dashboard refreshes every ``REFRESH_S``;
    their refreshes are evenly staggered from a seeded phase, so the
    refresh count does not depend on the seed. A refresh makes all
    three GETs at once."""
    step = REFRESH_S / DASHBOARDS
    first = np.random.default_rng(seed + 1).uniform(0.0, step)
    return [(float(t), e) for t in np.arange(first, seconds, step)
            for e in range(len(ENDPOINTS))]


def flush_sync_time(now: float) -> float:
    """When to post the sync event: at least 0.1 s after ``now``, at a
    fixed point of the trigger cycle.

    At the live rate the gateway flushes on its 0.5 s clock, and where
    that clock falls against the ``TRIGGER_S`` grid moves an event's
    mean wait by up to 0.5 s. Left to chance, it moved the
    live median result latency by about 0.5 s from run to run. The
    gateway ships a lone event ``IDLE_SHIP_S`` after it arrives and
    restarts its clock there, so an event posted at this time puts the
    next flushes ``FLUSH_PHASE_S`` after a trigger boundary. Keeping to
    one point of the trigger cycle also fixes where in it each phase
    starts."""
    s = math.floor(now / TRIGGER_S) * TRIGGER_S + FLUSH_PHASE_S - IDLE_SHIP_S
    while s < now + 0.1:
        s += TRIGGER_S
    return s


def window_of(ev_us: int) -> int:
    return (ev_us // 1_000_000) // WINDOW_S * WINDOW_S


def ts_text(ev_us: int) -> str:
    return (EPOCH + timedelta(microseconds=int(ev_us))).isoformat(
        timespec="microseconds")


def payload(idx: int, key: int, ev_us: int) -> dict:
    return {"user_id": f"u{idx}", "emoji_type": EMOJIS[key],
            "timestamp": ts_text(ev_us)}


def post_bytes(body: dict) -> bytes:
    data = json.dumps(body).encode()
    return (b"POST /send_emoji HTTP/1.1\r\nHost: 127.0.0.1\r\n"
            b"Content-Type: application/json\r\nContent-Length: "
            + str(len(data)).encode() + b"\r\n\r\n" + data)


def parse_responses(buf: bytearray) -> list[tuple[int, bytes]]:
    """Pop every complete HTTP/1.1 response (status, body) off ``buf``."""
    out = []
    while True:
        head_end = buf.find(b"\r\n\r\n")
        if head_end < 0:
            return out
        head = bytes(buf[:head_end])
        status = int(head[9:12])
        clen = 0
        for line in head.split(b"\r\n")[1:]:
            name, _, value = line.partition(b":")
            if name.strip().lower() == b"content-length":
                clen = int(value)
        end = head_end + 4 + clen
        if len(buf) < end:
            return out
        out.append((status, bytes(buf[head_end + 4:end])))
        del buf[:end]


# -------------------------------------------------------------- gateway


def gateway_main(spool: str, out_q, stop_evt) -> None:
    """One front-door process: serve until told to stop, then close
    (final drain included) and report its counters."""
    gw = engine.module("streaming.ingest").IngestGateway(spool).serve_background()
    out_q.put(("port", gw.port))
    stop_evt.wait()
    gw.close()
    out_q.put(("counts", gw.accepted_count, gw.flushed_count))


# --------------------------------------------------------------- client


class _Pipeline:
    """One keep-alive connection with pipelined POSTs: a sender that
    writes each request when due (at most ``INFLIGHT`` unanswered) and a
    receiver that matches responses to requests in order."""

    def __init__(self, port, idxs, reqs, due_abs, t_end, res) -> None:
        self.sock = socket.create_connection(("127.0.0.1", port))
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.idxs, self.reqs, self.due, self.t_end = idxs, reqs, due_abs, t_end
        self.sent, self.done, self.status = res
        self.pending: deque = deque()
        self.cond = threading.Condition()
        self.inflight = 0
        self.sender_done = False

    def send_loop(self) -> None:
        i, n = 0, len(self.idxs)
        while i < n:
            now = time.time()
            if now >= self.t_end:
                break
            wait = self.due[self.idxs[i]] - now
            if wait > 0:
                time.sleep(wait)
                continue
            with self.cond:
                while self.inflight >= INFLIGHT and time.time() < self.t_end:
                    self.cond.wait(0.05)
                room = INFLIGHT - self.inflight
            if room <= 0:
                continue
            now = time.time()
            j = i
            while j < n and j - i < room and self.due[self.idxs[j]] <= now:
                j += 1
            batch = self.idxs[i:j]
            with self.cond:
                self.inflight += len(batch)
                self.pending.extend(batch)
            t = time.time()
            self.sock.sendall(b"".join(self.reqs[k] for k in batch))
            self.sent[batch] = t
            i = j
        self.sender_done = True

    def recv_loop(self) -> None:
        buf = bytearray()
        deadline = self.t_end + 30.0
        while not (self.sender_done and not self.pending):
            # poll rather than a socket timeout, which would also apply
            # to the sender's sendall on the same socket
            if not select.select([self.sock], [], [], 0.2)[0]:
                if time.time() > deadline:
                    break
                continue
            data = self.sock.recv(1 << 16)
            if not data:
                break
            buf += data
            now = time.time()
            for status, _ in parse_responses(buf):
                k = self.pending.popleft()
                self.done[k], self.status[k] = now, status
                with self.cond:
                    self.inflight -= 1
                    self.cond.notify()
        self.sock.close()


def _get(port: int, path: str) -> tuple[int, bool]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        body = resp.read()
    finally:
        conn.close()
    doc = json.loads(body)
    shape = {"/api/stats": dict, "/api/emoji-data": dict,
             "/api/total-data": list}[path]
    valid = isinstance(doc, shape) and (
        path != "/api/stats" or "total_emojis" in doc)
    return resp.status, valid


def client_main(cfg: dict, ctl_q, out_q) -> None:
    """The load generator: pre-encodes the seeded schedule, reports
    ready, then on "go" runs it open-loop and saves per-request times."""
    ev = schedule(cfg["seed"], cfg["seconds"])
    n = len(ev["due"])
    reqs = [post_bytes(payload(i, int(ev["key"][i]), int(ev["ev_us"][i])))
            for i in range(n)]
    reads = read_schedule(cfg["seed"], cfg["seconds"])
    out_q.put(("ready", n))
    msg = ctl_q.get()
    if msg[0] != "go":
        return
    _, gw_port, stats_port, t0 = msg
    due_abs = t0 + ev["due"]
    # live events spread over the connections like independent clients;
    # the peak phase pipelines one connection, which measures the
    # gateway's capacity without its handler threads fighting over the
    # interpreter lock (the gateway alone on 4 cores accepted 3.8-5.1k/s
    # over four connections, 6.0-7.3k/s over one)
    owner = np.where(ev["phase"] == 0, np.arange(n) % cfg["conns"], 0)
    t_end = t0 + 2 * cfg["seconds"] + PHASE_GAP_S
    sent, done = np.full(n, np.nan), np.full(n, np.nan)
    status = np.zeros(n, dtype=np.int32)
    conns = [
        _Pipeline(gw_port, np.flatnonzero(owner == c), reqs, due_abs, t_end,
                  (sent, done, status))
        for c in range(cfg["conns"])
    ]
    threads = [threading.Thread(target=f) for p in conns
               for f in (p.send_loop, p.recv_loop)]
    g = len(reads)
    g_due = np.array([t0 + d for d, _ in reads])
    g_ep = np.array([e for _, e in reads], dtype=np.int32)
    g_sent, g_done = np.full(g, np.nan), np.full(g, np.nan)
    g_status = np.zeros(g, dtype=np.int32)
    g_valid = np.zeros(g, dtype=bool)

    def one_get(k: int) -> None:
        g_sent[k] = time.time()
        try:
            g_status[k], g_valid[k] = _get(stats_port, ENDPOINTS[g_ep[k]])
        except (OSError, ValueError, http.client.HTTPException):
            g_status[k] = 0
        g_done[k] = time.time()

    def read_loop(pool) -> None:
        futures = []
        for k in range(g):
            wait = g_due[k] - time.time()
            if wait > 0:
                time.sleep(wait)
            futures.append(pool.submit(one_get, k))
        for f in futures:
            f.result()

    with ThreadPoolExecutor(READ_WORKERS) as pool:
        reader = threading.Thread(target=read_loop, args=(pool,))
        for t in threads + [reader]:
            t.start()
        for t in threads + [reader]:
            t.join()
    np.savez(cfg["out"], due=due_abs, sent=sent, done=done, status=status,
             g_due=g_due, g_ep=g_ep, g_sent=g_sent, g_done=g_done,
             g_status=g_status, g_valid=g_valid)
    out_q.put(("done",))


# ------------------------------------------------------------ analysis


def _progress_time(p: dict) -> float:
    ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=timezone.utc).timestamp()


def data_batches(progress: list[dict]) -> list[dict]:
    """Micro-batches that read rows, in batch order, with the wall time
    their sink write finished (trigger start + execution - commit)."""
    out = []
    for p in sorted(progress, key=lambda p: p["batchId"]):
        if p["numInputRows"] <= 0:
            continue
        d = p["durationMs"]
        start = _progress_time(p)
        out.append({
            "batch": p["batchId"], "rows": p["numInputRows"], "start": start,
            "emit": start + (d.get("triggerExecution", 0)
                             - d.get("commitOffsets", 0)) / 1000.0,
        })
    return out


def expected_emissions(batches, spool_events) -> list[tuple]:
    """The (key, window, cnt, t_emit) rows an update-mode count must
    emit when batch k reads the next ``rows`` spool events in order."""
    out, counts, pos = [], Counter(), 0
    for b in batches:
        touched = dict.fromkeys(spool_events[pos:pos + b["rows"]])
        counts.update(spool_events[pos:pos + b["rows"]])
        pos += b["rows"]
        out += [(k, w, counts[(k, w)], b["emit"]) for k, w in touched]
    return out


def backlog_at_reads(batches, accepted_at, lo: float, hi: float):
    """(times, rows): at the start of each micro-batch in [lo, hi], the
    events accepted by then that no earlier batch has read."""
    accepted_at = np.sort(accepted_at)
    cum, times, rows = 0, [], []
    for b in batches:
        if lo <= b["start"] <= hi:
            times.append(b["start"])
            rows.append(int(np.searchsorted(accepted_at, b["start"], side="right")) - cum)
        cum += b["rows"]
    return times, rows


def read_spool(spool: str) -> tuple[list[tuple], list[float], int]:
    """Spool rows in flush order as (user_id, emoji, window), the time
    each row's file became visible (its mtime), and the file count."""
    rows, seen = [], []
    names = sorted(f for f in os.listdir(spool) if f.startswith("part-"))
    for name in names:
        path = os.path.join(spool, name)
        mtime = os.stat(path).st_mtime
        with open(path, encoding="utf-8") as f:
            for line in f:
                d = json.loads(line)
                ts = datetime.fromisoformat(d["timestamp"])
                ev_us = (ts - EPOCH) // timedelta(microseconds=1)
                rows.append((d["user_id"], d["emoji_type"], window_of(ev_us)))
                seen.append(mtime)
    return rows, seen, len(names)


def _pct(values, q):
    return stats.percentile(values, q) if len(values) else 0.0


# ------------------------------------------------------------------ run


def run(args, tracer) -> dict:
    work = os.path.join(engine.WORK, f"stream-{os.getpid()}")
    spool = os.path.join(work, "spool")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(spool)
    cfg = {"seed": args.seed, "seconds": args.seconds,
           "conns": min(4, host.nproc()),
           "out": os.path.join(work, "client.npz")}
    # fork, not spawn: a spawned child starts multiprocessing's resource
    # tracker, a helper process that outlives this one by a moment and
    # is then left for init to reap. Both children fork before the JVM
    # starts and while this process runs no other thread.
    ctx = mp.get_context("fork")
    gw_q, gw_stop = ctx.Queue(), ctx.Event()
    cl_ctl, cl_out = ctx.Queue(), ctx.Queue()

    gw = ctx.Process(target=gateway_main, args=(spool, gw_q, gw_stop),
                     name="gateway")
    client = ctx.Process(target=client_main, args=(cfg, cl_ctl, cl_out),
                         name="client")
    spark = server = q = probe = None
    probe_stop = threading.Event()
    probe_rec: list[tuple] = []
    try:
        # the generator encodes its requests before set-up is timed, so
        # its CPU does not count as the program's set-up
        client.start()
        _await(cl_out, client, 120)
        t_start = time.perf_counter()
        gw.start()
        with tracer.span("session", "session"):
            spark = engine.start_session(args.cores, args.driver_mem,
                                         "perfbench_stream")
        session_s = time.perf_counter() - t_start
        with tracer.span("query.start", "streaming.core"):
            core = engine.module("streaming.core")
            ingest = engine.module("streaming.ingest")
            events = ingest.ingest_stream(spark, spool).withColumnRenamed(
                "emoji_type", "event_type")
            counts = core.windowed_counts_scaled(
                events, window_dur="1 minute", watermark="1 minute")
            q = engine.module("streaming.sinks").start_memory_sink(
                counts, SINK, output_mode="update", trigger=TRIGGER)
        with tracer.span("gateway.start", "gateway"):
            _, gw_port = _await(gw_q, gw, 120)
        with tracer.span("first.trigger", "trigger"):
            _post_setup_event(gw_port)
            while not any(p["numInputRows"] > 0 for p in q.recentProgress):
                if q.exception() is not None:
                    raise RuntimeError(f"stream failed: {q.exception()}")
                time.sleep(0.02)
        server = engine.module("streaming.serving").StatsHttpServer(
            spark, SINK).serve_background()
        setup_s = time.perf_counter() - t_start

        jpid = host.jvm_pid(spark)
        cpu0, gc0 = host.cpu_s(jpid), host.jvm_gc_s(spark)
        gcpu0, drv0 = host.cpu_s(gw.pid), time.process_time()
        sync = flush_sync_time(time.time())
        time.sleep(max(0.0, sync - time.time()))
        _post_setup_event(gw_port)
        t0 = sync + 0.2  # inside the flush cycle the sync event started
        cl_ctl.put(("go", gw_port, server.port, t0))
        if tracer.enabled:
            probe = threading.Thread(target=_serve_probe, args=(
                spark, tracer, probe_stop, probe_rec, t0 + args.seconds))
            probe.start()
        with tracer.span("measure", "bench"):
            _await(cl_out, client, 2 * args.seconds + PHASE_GAP_S + 60)
        if probe is not None:
            probe.join()
        res = dict(np.load(cfg["out"]))
        acked = int((res["status"] == 200).sum()) + SETUP_EVENTS
        with tracer.span("drain", "bench"):
            deadline = time.time() + 30
            while time.time() < deadline:
                if sum(p["numInputRows"] for p in q.recentProgress) >= acked:
                    break
                time.sleep(0.05)
        meas_end = time.time()
        layer = {
            "session.build_s": session_s,
            "jvm.cpu_s": host.cpu_s(jpid) - cpu0,
            "jvm.gc_s": host.jvm_gc_s(spark) - gc0,
            "driver.cpu_s": time.process_time() - drv0,
            "gateway.cpu_s": host.cpu_s(gw.pid) - gcpu0,
            "gateway.rss_mb": host.rss_mb(gw.pid),
        }
        gw_stop.set()
        _, accepted, flushed = _await(gw_q, gw, 60)
        q.processAllAvailable()
        progress = [json.loads(p.json) for p in q.recentProgress]
        epoch_s = int(EPOCH.replace(tzinfo=timezone.utc).timestamp())
        table = [(r[0], r[1] - epoch_s, r[2]) for r in spark.sql(
            f"SELECT event_type, unix_timestamp(window.start), cnt FROM {SINK}"
        ).collect()]
    finally:
        probe_stop.set()
        if server is not None:
            server.close()
        if q is not None:
            q.stop()
        if spark is not None:
            engine.stop_session(spark)
        gw_stop.set()
        cl_ctl.put(("stop",))
        _reap(client, cl_out)
        _reap(gw, gw_q)
    try:
        return _analyse(cfg, tracer, res, progress, table, spool,
                        (accepted, flushed), layer, setup_s, t0, meas_end,
                        probe_rec)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _post_setup_event(port: int) -> None:
    """One event in window 0, posted before the clock starts; the
    sink's counts include it."""
    body = json.dumps({"user_id": "setup", "emoji_type": EMOJIS[0],
                       "timestamp": ts_text(0)})
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    try:
        conn.request("POST", "/send_emoji", body,
                     {"Content-Type": "application/json"})
        resp = conn.getresponse()
        resp.read()
    finally:
        conn.close()
    if resp.status != 200:
        raise RuntimeError(f"gateway refused the set-up event: {resp.status}")


def _await(out_q, proc, timeout: float):
    """Next message from a child, failing fast if the child has died."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        try:
            return out_q.get(timeout=0.5)
        except queue.Empty:
            if not proc.is_alive():
                raise RuntimeError(f"{proc.name} exited with {proc.exitcode}")
    raise RuntimeError(f"{proc.name} sent nothing for {timeout:.0f} s")


def _reap(proc, out_q, timeout: float = 30.0) -> None:
    """Join a child, draining its result queue while waiting (a child
    blocked on a full queue pipe never exits); kill it at the deadline."""
    deadline = time.time() + timeout
    while proc.is_alive() and time.time() < deadline:
        try:
            while True:
                out_q.get_nowait()
        except queue.Empty:
            pass
        proc.join(0.1)
    if proc.is_alive():
        proc.kill()
        proc.join(10)


def _serve_probe(spark, tracer, stop, rec, until: float) -> None:
    """Traced runs only: through the live phase, time each ``api_*``
    call directly every 2 s, in a job group that counts the Spark jobs
    they run."""
    serving = engine.module("streaming.serving")
    sc = spark.sparkContext
    sc.setJobGroup("perfbench-serve", "serve probe")
    calls = (("stats", serving.api_stats), ("emoji_data", serving.api_emoji_data),
             ("total_data", serving.api_total_data))
    while not stop.is_set() and time.time() < until:
        for name, fn in calls:
            t = time.perf_counter()
            with tracer.span(name, "serve"):
                fn(spark, SINK)
            rec.append((name, time.perf_counter() - t))
        stop.wait(2.0)
    rec.append(("jobs", len(sc.statusTracker().getJobIdsForGroup("perfbench-serve"))))


def _analyse(cfg, tracer, res, progress, table, spool, gw_counts, layer,
             setup_s, t0, meas_end, probe_rec) -> dict:
    secs = cfg["seconds"]
    ev = schedule(cfg["seed"], secs)
    status, due, sent, done = res["status"], res["due"], res["sent"], res["done"]
    live, peak = ev["phase"] == 0, ev["phase"] == 1
    is_sent = ~np.isnan(sent)
    ok = status == 200
    failures: list[str] = []

    # what the sink must hold: every accepted event, by (emoji, window)
    expected = Counter({(EMOJIS[0], 0): SETUP_EVENTS})
    for i in np.flatnonzero(ok):
        expected[(EMOJIS[int(ev["key"][i])], window_of(int(ev["ev_us"][i])))] += 1
    final: dict = {}
    for key, win, cnt in table:
        final[(key, win)] = max(final.get((key, win), 0), cnt)
    spool_rows, spool_seen, n_files = read_spool(spool)
    accepted, flushed = gw_counts
    cons = stats.conservation_failures(
        int(ok.sum()) + SETUP_EVENTS, accepted, flushed, len(spool_rows), sum(final.values()))
    wrong = stats.count_mismatches(expected, final)
    failures += cons + [f"count {g}: expected {e}, got {a}" for g, e, a in wrong]

    # emission times: replay the batches over the spool order and check
    # the sink holds exactly the rows an update-mode count emits
    batches = data_batches(progress)
    spool_groups = [(emoji, win) for _, emoji, win in spool_rows]
    emissions = expected_emissions(batches, spool_groups)
    if sorted((k, w, c) for k, w, c, _ in emissions) != sorted(table):
        failures.append("sink rows differ from the per-batch replay of the spool")
    emitted_at = stats.attribute_emissions(emissions, spool_groups)
    idx_of = [int(u[1:]) if u.startswith("u") else -1 for u, _, _ in spool_rows]
    res_lat = {0: [], 1: []}
    lost = 0
    for j, i in enumerate(idx_of):
        if i < 0:
            continue
        if emitted_at[j] is None:
            lost += 1
        else:
            res_lat[int(ev["phase"][i])].append((emitted_at[j] - due[i]) * 1000.0)
    if lost:
        failures.append(f"{lost} spooled events never emitted")
    spool_delay = [spool_seen[j] - sent[i] for j, i in enumerate(idx_of) if i >= 0]

    # open-loop client views, per phase
    ack_live = stats.open_loop_latency(due[ok & live] * 1000, done[ok & live] * 1000)
    ack_peak = stats.open_loop_latency(due[ok & peak] * 1000, done[ok & peak] * 1000)
    lag_ms = stats.lateness(due[is_sent & live] * 1000, sent[is_sent & live] * 1000)
    peak_t0 = t0 + secs + PHASE_GAP_S
    in_steady = ok & peak & (done >= peak_t0 + RAMP_S) & (done < peak_t0 + secs)
    goodput = float(in_steady.sum()) / (secs - RAMP_S)
    g_ok = (res["g_status"] == 200) & res["g_valid"]
    g_sent = ~np.isnan(res["g_sent"])
    serve_ms = stats.open_loop_latency(res["g_due"][g_ok] * 1000,
                                       res["g_done"][g_ok] * 1000)

    # the set-up events were accepted before any of these
    backlog_t, backlog = backlog_at_reads(
        batches, np.append(done[ok], np.full(SETUP_EVENTS, -np.inf)),
        peak_t0 + RAMP_S, peak_t0 + secs)
    growth = stats.growth(backlog_t, backlog)
    grows = stats.backlog_growth_failure(growth, goodput, secs - RAMP_S, TRIGGER_S)
    if grows:
        failures.append(grows)

    attempted = int(is_sent.sum()) + int(g_sent.sum())
    failed = (int((is_sent & ~ok).sum()) + int((g_sent & ~g_ok).sum())
              + max(0, int(ok.sum()) + SETUP_EVENTS - sum(final.values())) + len(wrong))
    lat, lat_pk = stats.summary(res_lat[0]), stats.summary(res_lat[1])
    ack, ack_pk = stats.summary(ack_live), stats.summary(ack_peak)
    srv = stats.summary(serve_ms)
    metrics = {
        "setup_s": (setup_s, "s"),
        "latency_p50_ms": (lat["p50"], "ms"),
        "latency_tail_ms": (lat["tail"], "ms"),
        "throughput_per_s": (goodput, "1/s"),
        "cpu_ms_per_op": (1000.0 * (layer["jvm.cpu_s"] + layer["gateway.cpu_s"]
                                    + layer["driver.cpu_s"]) / max(1, int(ok.sum())), "ms"),
    }
    report = {"error_ratio": (failed / max(1, attempted), "ratio")}
    for label, sm, unit, scale in (
            ("result_latency", lat, "s", 1e-3), ("peak_result_latency", lat_pk, "s", 1e-3),
            ("ack_latency", ack, "ms", 1.0), ("peak_ack_latency", ack_pk, "ms", 1.0),
            ("serve_latency", srv, "ms", 1.0)):
        report[f"{label}_p50_{unit}"] = (sm["p50"] * scale, unit)
        report[f"{label}_p{sm['tail_pct']:g}_{unit}"] = (sm["tail"] * scale, unit)
        report[f"{label}_samples"] = (sm["n"], "count")
    report.update({
        "peak_goodput_eps": (goodput, "1/s"),
        "peak_offered_eps": (float(peak.sum()) / secs, "1/s"),
        "peak_unsent_events": (int((peak & ~is_sent).sum()), "count"),
        "peak_backlog_growth_eps": (growth, "1/s"),
    })
    live_batches = [p for p in progress if p["numInputRows"] > 0
                    and _progress_time(p) < peak_t0]
    states = [p["stateOperators"][0] for p in progress if p["stateOperators"]]
    layer.update({
        "gateway.accepted": accepted,
        "gateway.rejected_503": int((status == 503).sum()),
        "gateway.flushed": flushed,
        "gateway.spool_files": n_files,
        "gateway.events_per_file": flushed / max(1, n_files),
        "gateway.spool_delay_p50_s": _pct(spool_delay, 50),
        "gateway.spool_delay_p99_s": _pct(spool_delay, 99),
        "gateway.ack_p50_ms": ack_pk["p50"] if ack_pk["n"] else 0.0,
        "gateway.ack_p99_ms": _pct(ack_peak, 99),
        "trigger.rows_per_batch": _pct([p["numInputRows"] for p in live_batches], 50),
        "source.backlog_rows": _pct(backlog, 50),
        "state.rows_total": max((s["numRowsTotal"] for s in states), default=0),
        "state.memory_bytes": max((s["memoryUsedBytes"] for s in states), default=0),
        "state.rows_dropped_by_watermark": sum(
            s["numRowsDroppedByWatermark"] for s in states),
        "sink.rows_emitted": _pct([sum(1 for e in emissions if e[3] == b["emit"])
                                   for b in batches if b["start"] < peak_t0], 50),
        "sink.table_rows": len(table),
        "serve.latency_p50_ms": srv["p50"] if srv["n"] else 0.0,
        "generator.lag_p99_ms": _pct(lag_ms, 99),
    })
    for ph in (*PHASES, "triggerExecution"):
        xs = [p["durationMs"].get(ph, 0) for p in live_batches]
        layer[f"trigger.{ph}_ms.p50"] = _pct(xs, 50)
        layer[f"trigger.{ph}_ms.p99"] = _pct(xs, 99)
    probe: dict = {}
    for name, v in probe_rec:
        probe.setdefault(name, []).append(v)
    calls = sum(len(probe.get(k, [])) for k in ("stats", "emoji_data", "total_data"))
    for name in ("stats", "emoji_data", "total_data"):
        layer[f"serve.{name}_ms"] = _pct([v * 1000.0 for v in probe.get(name, [])], 50)
    layer["serve.spark_jobs"] = probe["jobs"][-1] / calls if calls else 0.0
    if tracer.enabled:
        _trigger_spans(tracer, progress)
        busy = sum(v for k, vs in probe.items() if k != "jobs" for v in vs)
        layer["trace.overhead_pct"] = 100.0 * busy / max(1e-9, meas_end - t0)
    for f in failures:
        print(f"# FAILED {f}", file=sys.stderr)
    return {"metrics": metrics, "report": report, "per_layer": layer,
            "attempted": attempted, "failed": failed, "correct": not failures,
            "details": {"events_due": int(len(due)),
                        "peak_steady_accepted": int(in_steady.sum())}}


def _trigger_spans(tracer, progress) -> None:
    """Lay each trigger's reported phases out as spans under one
    trigger span (phases in the order the micro-batch runs them)."""
    shift = time.perf_counter() - time.time()
    for p in progress:
        d = p["durationMs"]
        start = _progress_time(p) + shift
        total = d.get("triggerExecution", 0) / 1000.0
        parent = tracer.add(f"batch{p['batchId']}", "trigger", start, start + total)
        t = start
        for ph, layer in PHASES.items():
            dur = d.get(ph, 0) / 1000.0
            tracer.add(ph, layer, t, t + dur, parent=parent)
            t += dur
