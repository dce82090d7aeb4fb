"""Metric arithmetic of the benchmark: percentiles, late fraction and
per-layer attribution of traced Spark jobs. Pure functions over the
load process's raw samples, so they are unit-tested on their own."""

import json
import math
import os
import re
import statistics

# percentiles a latency report may use, highest first
PERCENTILE_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    ordered = sorted(values)
    return ordered[_rank(p, len(ordered)) - 1]


def _rank(p, n):
    # the epsilon keeps 99.9% of 10000 at rank 9990, not 9991
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def tail_percentile(n):
    """Highest ladder percentile with at least ten samples beyond it
    among n samples, or None when even the median lacks them."""
    for p in PERCENTILE_LADDER:
        if n - _rank(p, n) >= 10:
            return p
    return None


def latency_ms(arrival_ms, scheduled_ms):
    """Open-loop latency of a result: its arrival minus the *scheduled*
    send time of the newest event it covers, so a generator or system
    stall also charges the events queued behind it."""
    return arrival_ms - scheduled_ms


def late_fraction(samples, limit_ms, expected_weight):
    """Share of the events sent whose results were late or missing.
    `samples` are (latency_ms, weight) pairs, weight = events the result
    covers; events never covered by any result count as late."""
    if expected_weight <= 0:
        raise ValueError("nothing was sent")
    covered = sum(w for _, w in samples)
    late = sum(w for ms, w in samples if ms > limit_ms)
    missing = max(0, expected_weight - covered)
    return (late + missing) / expected_weight


def module_map(src_root):
    """Scala file name -> module: the package directory under
    `graft/` (`streaming`, `engine`, ...), or `graft` for files at the
    package root."""
    out = {}
    base = os.path.join(src_root, "graft")
    for d, _, files in os.walk(base):
        rel = os.path.relpath(d, base)
        mod = "graft" if rel == "." else rel.split(os.sep)[0]
        for f in files:
            if f.endswith(".scala"):
                out[f] = mod
    return out


_SITE = re.compile(r" at ([\w$.-]+\.scala):\d+")


def module_of(call_site, modules):
    """Module of a Spark job from its short call site, e.g.
    `count at StreamingPipeline.scala:470` -> `streaming`. Jobs whose
    call site is in no module file belong to `runtime`."""
    m = _SITE.search(call_site or "")
    return modules.get(m.group(1), "runtime") if m else "runtime"


def site_file(call_site):
    m = _SITE.search(call_site or "")
    return m.group(1) if m else ""


def union_ms(spans):
    """Total length of the union of (start, end) spans."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def offset_sum(offset_json):
    """Sum of the per-partition offsets in a source offset JSON."""
    if not offset_json:
        return 0
    d = json.loads(offset_json) if isinstance(offset_json, str) else offset_json
    return sum(v for v in d.values() if isinstance(v, (int, float)))


def sent_by(series, t):
    """Events sent at or before time t, from (ms, total sent) pairs."""
    n = 0
    for ms, total in series:
        if ms > t:
            break
        n = total
    return n


def _open_samples(life):
    """(latency_ms, events covered) per result row of a lifetime's
    measured open loop."""
    return [(latency_ms(at, sched), w) for at, sched, w in life["open"]["results"]]


def end_to_end(result):
    """The end-to-end metrics of one run from the load process's raw
    result: medians over the run's SUT lifetimes. Returns (metrics,
    notes) with notes for the human report; the latency tail and
    late_frac pool every lifetime's samples."""
    lives = result["lives"]
    per_life = [[ms for ms, _ in _open_samples(l)] for l in lives]
    samples = [s for l in lives for s in _open_samples(l)]
    lat = [ms for ms, _ in samples]
    n = len(lat)
    tail = tail_percentile(n)
    drain_eps = [l["drain"]["events"] / l["drain"]["seconds"] for l in lives]
    setups = [l["setup_s"] for l in lives]
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "throughput_eps": (statistics.median(drain_eps), "1/s"),
        "latency_p50_ms": (statistics.median(percentile(x, 50) for x in per_life), "ms"),
    }
    sent = sum(l["open"]["sent"] for l in lives)
    notes = {
        "lifetimes": len(lives),
        "setup_s_by_lifetime": setups,
        "drain_eps_by_lifetime": drain_eps,
        "latency_p50_ms_by_lifetime": [percentile(x, 50) for x in per_life],
        "latency_samples": n,
        "latency_p90_ms": percentile(lat, 90),
        "latency_tail_percentile": tail,
        "latency_tail_ms": percentile(lat, tail) if tail else None,
        "late_frac": late_fraction(samples, result["late_limit_ms"], sent),
        "late_limit_ms": result["late_limit_ms"],
        "open_rate_eps": result["rate"],
        "open_events": sent,
        "drain_backlog": result["backlog"],
        "gen_late_ms": max(l["open"]["gen_late_ms"] for l in lives),
    }
    return metrics, notes


def per_layer(result, records, modules):
    """Per-layer metrics of a traced run, which has one SUT lifetime.
    Spans come from the SUT's listeners (`records`); the measured window
    is the open loop plus the drain."""
    life = result["lives"][0]
    lo, hi = life["open"]["start_ms"], life["drain"]["end_ms"]
    progress = sorted((r for r in records if r["kind"] == "progress"
                       and lo <= r["start"] <= hi and r["rows"] > 0),
                      key=lambda r: r["batch"])
    batches = {r["batch"] for r in progress}
    triggers = max(1, len(progress))
    jobs = [r for r in records if r["kind"] == "job"]
    stages = {r["id"]: r for r in records if r["kind"] == "stage"}
    in_window = [j for j in jobs if j["batch"] in batches or
                 (j["batch"] is None and lo <= j["start"] <= hi)]
    trig_jobs = [j for j in in_window if j["batch"] in batches]

    def dur(key):
        return statistics.mean(r["durations"].get(key, 0) for r in progress) if progress else 0.0

    def jobs_where(pred):
        return [j for j in in_window if pred(j)]

    def job_ms(js):
        return sum(j["end"] - j["start"] for j in js)

    def stage_sum(js, key):
        return sum(stages[s][key] for j in js for s in j["stages"] if s in stages)

    # jobs without a graft call site (broadcasts and AQE stages run
    # from pool threads) belong to their SQL execution's module
    sql_mod = {}
    for j in jobs:
        if j["sql"] is not None and j["site"]:
            sql_mod.setdefault(j["sql"], module_of(j["site"], modules))
    mod = {}
    for j in in_window:
        mod.setdefault(module_of(j["site"], modules) if j["site"]
                       else sql_mod.get(j["sql"], "runtime"), []).append(j)
    streaming_jobs = mod.get("streaming", [])
    sink = jobs_where(lambda j: site_file(j["site"]) == "Sinks.scala")
    state = jobs_where(lambda j: site_file(j["site"]) in ("StateTable.scala", "WindowManager.scala"))

    # driver time inside addBatch that no job covers
    gaps = []
    for p in progress:
        spans = [(j["start"], j["end"]) for j in trig_jobs if j["batch"] == p["batch"]]
        gaps.append(max(0, p["durations"].get("addBatch", 0) - union_ms(spans)))

    trig_sql = {j["sql"] for j in trig_jobs}
    plans = [r for r in records if r["kind"] == "plan" and r["sql"] in trig_sql
             and sql_mod.get(r["sql"]) == "engine"]
    plan_ms = sum(sum(v for k, v in r["phases"].items()
                      if k in ("analysis", "optimization", "planning")) for r in plans)

    trig_ms = [r["durations"].get("triggerExecution", 0) for r in progress] or [0]
    lags = [sent_by(life["sent_series"], r["start"]) - offset_sum(r["end_offset"])
            for r in progress] or [0]
    emitted = life["window"]["emitted"]
    close_after = result["close_after_ms"]
    flushes, last = 0, None
    for at, _, _ in sorted(emitted):
        if last is None or at - last > 500:
            flushes += 1
        last = at
    m = {
        "streaming.triggers": (len(progress), "count"),
        "streaming.rows_per_trigger": (statistics.mean(
            offset_sum(r["end_offset"]) - offset_sum(r["start_offset"]) for r in progress)
            if progress else 0, "count"),
        "streaming.latest_offset_ms": (dur("latestOffset"), "ms"),
        "streaming.get_batch_ms": (dur("getBatch"), "ms"),
        "streaming.query_planning_ms": (dur("queryPlanning"), "ms"),
        "streaming.add_batch_ms": (dur("addBatch"), "ms"),
        "streaming.wal_commit_ms": (dur("walCommit"), "ms"),
        "streaming.trigger_p50_ms": (percentile(trig_ms, 50), "ms"),
        "streaming.trigger_p90_ms": (percentile(trig_ms, 90), "ms"),
        "streaming.decode_jobs": (len(streaming_jobs) / triggers, "count"),
        "streaming.decode_ms": (job_ms(streaming_jobs) / triggers, "ms"),
        "streaming.lag_max_events": (max(lags), "count"),
        "streaming.lag_end_events": (lags[-1], "count"),
        "engine.plan_ms": (plan_ms / triggers, "ms"),
        "engine.sink_jobs": (len(sink) / triggers, "count"),
        "engine.sink_ms": (job_ms(sink) / triggers, "ms"),
        "engine.job_ms": (job_ms(mod.get("engine", [])) / triggers, "ms"),
        "engine.state_jobs": (len(state) / triggers, "count"),
        "runtime.jobs_per_trigger": (len(trig_jobs) / triggers, "count"),
        "runtime.driver_gap_ms": (statistics.mean(gaps) if gaps else 0, "ms"),
        "runtime.peak_rss_mb": (life["peak_rss_mb"], "MB"),
        "runtime.task_s": (stage_sum(in_window, "run_ms") / 1000.0, "s"),
        "runtime.shuffle_mb": (stage_sum(in_window, "shuffle_bytes") / 1e6, "MB"),
        "runtime.gc_s": (stage_sum(in_window, "gc_ms") / 1000.0, "s"),
        "runtime.cpu_util": (life["cpu_s"] / life["wall_s"], "cores"),
        "runtime.drain_eps_1cpu": (result["drain_eps_1cpu"], "1/s"),
        "load.gen_late_ms": (life["open"]["gen_late_ms"], "ms"),
    }
    # accounting: per-module job time per trigger plus the driver gap
    # should add up to addBatch
    per_mod = {k: sum(j["end"] - j["start"] for j in v if j["batch"] in batches) / triggers
               for k, v in mod.items()}
    accounted = sum(per_mod.values()) + m["runtime.driver_gap_ms"][0]
    # times that are 0 on a workload without state stay out of the
    # metrics, which must not read the same on every run; the traffic
    # and poll counts describe the run, not the program's speed
    notes = {"engine.state_ms": job_ms(state) / triggers,
             "engine.state_rows": life["window"]["peak_open_keys"],
             "engine.window_flushes": flushes,
             "engine.window_emit_delay_ms": statistics.median(
                 at - (b + close_after) for at, b, _ in emitted) if emitted else None,
             "job_ms_per_trigger_by_module": per_mod,
             "accounted_ms_per_trigger": accounted,
             "add_batch_ms": m["streaming.add_batch_ms"][0]}
    return m, notes
