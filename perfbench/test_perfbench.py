"""Tests of the benchmark's own logic (no Spark): percentile choice,
self time, open-loop accounting, emission attribution and every
correctness gate, each shown to fail on a planted mismatch.

Run: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
from collections import Counter

import numpy as np
import pytest

import run
import stats
import stream


# ------------------------------------------------------------ percentiles


@pytest.mark.parametrize("n,pct", [
    (10_000, 99.9), (9_999, 99.0), (1_000, 99.0), (999, 95.0), (200, 95.0),
    (199, 90.0), (100, 90.0), (99, 75.0), (44, 75.0), (40, 75.0),
    (39, 50.0), (20, 50.0),
])
def test_tail_is_highest_percentile_with_ten_beyond(n, pct):
    got, value = stats.tail_percentile(list(range(n)))
    assert got == pct
    assert sum(1 for x in range(n) if x > value) >= stats.MIN_BEYOND


def test_tail_falls_back_to_max_below_twenty_samples():
    assert stats.tail_percentile([3.0, 1.0, 2.0]) == (100.0, 3.0)


def test_percentile_interpolates_like_numpy():
    xs = [0.3, 5.0, 1.0, 9.5, 2.2, 7.1]
    for q in (0, 25, 50, 75, 90, 99, 100):
        assert stats.percentile(xs, q) == pytest.approx(np.percentile(xs, q))


# ---------------------------------------------------------------- tracing


def _span(i, parent, layer, start, end):
    return {"id": i, "parent": parent, "layer": layer, "start": start,
            "end": end}


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    spans = [
        _span(0, None, "query", 0.0, 10.0),
        _span(1, 0, "operators", 1.0, 3.0),
        _span(2, 0, "catalyst", 2.0, 4.0),  # overlaps its sibling
        _span(3, 0, "exec", 8.0, 12.0),  # runs past its parent
        _span(4, 3, "exec", 9.0, 9.5),
    ]
    self_s = stats.self_times(spans)
    assert self_s["query"] == pytest.approx(10.0 - 3.0 - 2.0)
    assert self_s["operators"] == pytest.approx(2.0)
    assert self_s["catalyst"] == pytest.approx(2.0)
    assert self_s["exec"] == pytest.approx((4.0 - 0.5) + 0.5)


def test_tracer_nests_spans_and_records_nothing_when_off():
    on = stats.Tracer(True)
    with on.span("q", "query"):
        with on.span("c", "operators"):
            pass
    parent, child = on.spans
    assert child["parent"] == parent["id"] and parent["parent"] is None
    assert parent["start"] <= child["start"] <= child["end"] <= parent["end"]
    off = stats.Tracer(False)
    with off.span("q", "query"):
        off.add("x", "exec", 0.0, 1.0)
    assert off.spans == []


# -------------------------------------------------------------- open loop


def test_lateness_counts_only_late_starts():
    assert stats.lateness([0.0, 1.0, 2.0], [0.5, 1.0, 1.9]) == [0.5, 0.0, 0.0]


def test_open_loop_latency_charges_the_wait_behind_a_stall():
    # three requests due 10 ms apart; the first stalls 100 ms and the
    # others queue behind it on one connection
    due = [0.00, 0.01, 0.02]
    done = [0.10, 0.11, 0.12]
    assert stats.open_loop_latency(due, done) == pytest.approx([0.10, 0.10, 0.10])


# ------------------------------------------------------------ attribution


def test_row_with_count_c_covers_the_first_c_events_of_its_group():
    emissions = [("a", 0, 2, 10.0), ("b", 0, 1, 10.0), ("a", 0, 5, 12.0)]
    events = [("a", 0), ("a", 0), ("b", 0), ("a", 0), ("a", 0), ("a", 0),
              ("a", 0)]
    assert stats.attribute_emissions(emissions, events) == [
        10.0, 10.0, 10.0, 12.0, 12.0, 12.0, None]


def test_attribution_keeps_groups_and_windows_apart():
    emissions = [("a", 60, 1, 5.0), ("a", 0, 1, 7.0), ("a", 0, 1, 9.0)]
    events = [("a", 0), ("a", 60)]
    assert stats.attribute_emissions(emissions, events) == [7.0, 5.0]


def test_replayed_emissions_match_an_update_mode_sink():
    events = [("a", 0), ("b", 0), ("a", 0), ("a", 60), ("b", 0)]
    batches = [{"rows": 3, "emit": 1.0}, {"rows": 2, "emit": 2.0}]
    assert stream.expected_emissions(batches, events) == [
        ("a", 0, 2, 1.0), ("b", 0, 1, 1.0), ("a", 60, 1, 2.0), ("b", 0, 2, 2.0)]


# ------------------------------------------------------------------ gates


def test_digest_ignores_row_and_column_order_and_float_noise():
    a = stats.result_digest(["X", "y"], [(1, 0.1 + 0.2), (2, 3.0)])
    b = stats.result_digest(["y", "x"], [(3.0, 2), (0.3, 1)])
    assert stats.digest_mismatch(a, b) is None


@pytest.mark.parametrize("planted", [
    (["x", "y"], [(1, 0.3), (2, 3.5)]),  # a changed value
    (["x", "y"], [(1, 0.3)]),  # a lost row
    (["x", "z"], [(1, 0.3), (2, 3.0)]),  # a renamed column
    (["x", "y"], [(1, 0.3), (2, 3.0), (2, 3.0)]),  # a duplicated row
])
def test_oracle_gate_fails_on_planted_mismatch(planted):
    good = stats.result_digest(["x", "y"], [(1, 0.3), (2, 3.0)])
    assert stats.digest_mismatch(good, stats.result_digest(*planted))


def test_count_gate_fails_on_planted_off_by_one():
    expected = Counter({("a", 0): 3, ("b", 60): 1})
    assert stats.count_mismatches(expected, {("a", 0): 3, ("b", 60): 1}) == []
    assert stats.count_mismatches(expected, {("a", 0): 2, ("b", 60): 1}) == [
        (("a", 0), 3, 2)]
    assert stats.count_mismatches(expected, {("a", 0): 3}) == [(("b", 60), 1, 0)]


def test_conservation_gate_fails_on_planted_loss():
    assert stats.conservation_failures(5, 5, 5, 5, 5) == []
    assert stats.conservation_failures(5, 5, 5, 5, 4) == [
        "sink.emitted 4 != client 200s 5"]
    assert len(stats.conservation_failures(5, 6, 5, 5, 5)) == 1


def test_growth_is_the_least_squares_slope():
    assert stats.growth([0, 1, 2, 3], [5, 7, 9, 11]) == pytest.approx(2.0)
    assert stats.growth([1.0], [4.0]) == 0.0


def _peak_backlog(read_cap):
    """Events accepted at 5,000/s for 12 s; a trigger every 2 s reads
    what has arrived, at most ``read_cap`` events/s of interval."""
    accepted = np.arange(0.0, 12.0, 1 / 5000)
    batches, read = [], 0
    for start in np.arange(2.0, 13.0, 2.0):
        waiting = int((accepted <= start).sum()) - read
        rows = min(waiting, int(read_cap * 2))
        batches.append({"start": start, "rows": rows})
        read += rows
    times, rows = stream.backlog_at_reads(batches, accepted, 2.0, 12.0)
    return stats.growth(times, rows)


def test_backlog_gate_passes_a_trigger_that_keeps_up():
    growth = _peak_backlog(read_cap=1e9)
    assert growth == pytest.approx(0.0, abs=1.0)
    assert stats.backlog_growth_failure(growth, 5000, 10, 2) is None


def test_backlog_gate_fails_on_planted_growing_backlog():
    growth = _peak_backlog(read_cap=3000)  # 2,000 events/s fall behind
    assert growth == pytest.approx(2000, rel=0.05)
    assert stats.backlog_growth_failure(growth, 5000, 10, 2)


def test_backlog_counts_events_accepted_before_each_read_not_yet_read():
    batches = [{"start": 1.0, "rows": 2}, {"start": 3.0, "rows": 1},
               {"start": 5.0, "rows": 3}]
    accepted = [0.5, 0.9, 2.0, 2.5, 4.0, 6.0]
    assert stream.backlog_at_reads(batches, accepted, 2.0, 6.0) == (
        [3.0, 5.0], [2, 2])


# ---------------------------------------------------------------- inputs


def test_schedule_is_a_function_of_the_seed():
    a, b = stream.schedule(7, 5), stream.schedule(7, 5)
    for k in a:
        assert np.array_equal(a[k], b[k])
    assert not np.array_equal(a["key"], stream.schedule(8, 5)["key"])


def test_schedule_phases_rates_and_backdating():
    secs = 10
    ev = stream.schedule(3, secs)
    live, peak = ev["phase"] == 0, ev["phase"] == 1
    assert abs(live.sum() / secs - stream.LIVE_RATE) < 0.1 * stream.LIVE_RATE
    assert abs(peak.sum() / secs - stream.PEAK_RATE) < 0.1 * stream.PEAK_RATE
    assert ev["due"][live].max() < secs <= secs + stream.PHASE_GAP_S <= ev["due"][peak].min()
    on_time = (stream.FIRST_EVENT_S + ev["due"] * stream.DILATION) * 1e6
    back_s = (on_time - ev["ev_us"]) / 1e6
    assert back_s.min() > -1e-6 and back_s.max() <= stream.BACKDATE_MAX_S
    assert 0.05 < (back_s > 1e-6).mean() < 0.15
    assert ev["ev_us"].min() >= (stream.FIRST_EVENT_S - stream.BACKDATE_MAX_S) * 1e6


def test_dashboard_refreshes_are_a_fixed_count_of_three_gets():
    step = stream.REFRESH_S / stream.DASHBOARDS
    for seed in range(20):
        reads = stream.read_schedule(seed, 12)
        assert len(reads) == 3 * round(12 / step)
        times = sorted({t for t, _ in reads})
        assert 0.0 <= times[0] < step
        assert np.diff(times) == pytest.approx(step)
        assert sorted(e for _, e in reads) == sorted(
            list(range(len(stream.ENDPOINTS))) * len(times))


@pytest.mark.parametrize("now", [1_700_000_000.0, 1_700_000_000.37,
                                 1_700_000_001.99, 1_700_000_003.5])
def test_sync_event_puts_flushes_at_a_fixed_offset_from_triggers(now):
    s = stream.flush_sync_time(now)
    assert now + 0.1 <= s < now + 0.1 + stream.TRIGGER_S
    first_flush = s + stream.IDLE_SHIP_S
    assert first_flush % stream.TRIGGER_S == pytest.approx(stream.FLUSH_PHASE_S)


def test_pipelined_responses_parse_across_chunk_boundaries():
    one = (b"HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n"
           b"Content-Length: 2\r\n\r\n{}")
    busy = b"HTTP/1.1 503 Service Unavailable\r\ncontent-length: 0\r\n\r\n"
    buf = bytearray(one + busy + one[:10])
    assert stream.parse_responses(buf) == [(200, b"{}"), (503, b"")]
    buf += one[10:]
    assert stream.parse_responses(buf) == [(200, b"{}")]
    assert buf == b""


def test_payload_round_trips_through_the_window_of_its_timestamp():
    body = json.loads(json.dumps(stream.payload(4, 2, 61_999_999)))
    assert body == {"user_id": "u4", "emoji_type": stream.EMOJIS[2],
                    "timestamp": "2024-01-01T00:01:01.999999"}
    assert stream.window_of(61_999_999) == 60


# ----------------------------------------------------------- metric list


def test_benchmark_json_lists_exactly_the_metrics_run_reports():
    path = os.path.join(run.ROOT, "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == [
        tuple(m) for m in run.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        tuple(m) for m in run.PER_LAYER]
