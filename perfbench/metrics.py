"""Pure metric computations for the graft benchmark.

Everything here is a function of the harness's raw measurements
(`raw.json`, `spans.jsonl`), so it is unit-tested without Spark
(`python3 -m unittest discover -s perfbench -p 'test_*.py'`).
"""
import json
import math
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")

# A percentile is reported only when at least this many samples lie
# beyond it (the p90 of a paced phase needs 100 micro-batches).
MIN_BEYOND = 10
# The first batch of each phase is not a sample: in the burst phase it
# follows the warm-up chunk, in the paced phase it drains the burst backlog.
WARM_BATCHES = 1


def load_spec(path=SPEC):
    with open(path) as f:
        return json.load(f)


def units(spec, section):
    return {m["name"]: m["unit"] for m in spec[section]}


# ---- percentiles -------------------------------------------------------

def supported(n, q, min_beyond=MIN_BEYOND):
    """True when the q-quantile of n samples has `min_beyond` samples above it."""
    return n > 0 and math.floor(n * (1.0 - q) + 1e-9) >= min_beyond


def highest_supported(n, candidates=(0.5, 0.9, 0.99, 0.999), min_beyond=MIN_BEYOND):
    """The highest candidate quantile that n samples support, or None."""
    ok = [q for q in candidates if supported(n, q, min_beyond)]
    return max(ok) if ok else None


def percentile(values, q):
    """Nearest-rank percentile: always an observed sample."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    rank = max(1, math.ceil(q * len(s)))
    return s[rank - 1]


def median(values):
    return statistics.median(values)


# ---- stream batches ----------------------------------------------------

def batch_end_ms(batch):
    """Wall-clock end of a micro-batch: trigger start plus the trigger
    execution time, which ends after the offsets are committed."""
    return batch["trigger_start_ms"] + batch["durations_ms"]["triggerExecution"]


def chunks_of(batch):
    """MemoryStream offsets a batch delivered: (start_offset, end_offset]."""
    return range(batch["start_offset"] + 1, batch["end_offset"] + 1)


def label_batches(batches, chunks):
    """Attach to each batch the generator chunks it delivered (matched by
    MemoryStream offset) and its phase: the earliest phase among them
    (warm, then burst, then paced), None when it carried nothing."""
    order = ["warm", "burst", "paced"]
    by_offset = {c["offset"]: c for c in chunks}
    out = []
    for b in batches:
        mine = [by_offset[o] for o in chunks_of(b)]
        phase = min((c["phase"] for c in mine), key=order.index) if mine else None
        out.append(dict(b, phase=phase, chunks=mine))
    return out


def phase_batches(labelled, phase, warm=WARM_BATCHES):
    """Batches of one phase that carried rows, minus the first `warm` ones."""
    got = [b for b in sorted(labelled, key=lambda b: b["batch"])
           if b["phase"] == phase and b["rows"] > 0]
    return got[warm:]


def batch_latency_ms(batch):
    """Row-weighted mean, over the chunks a batch delivered, of batch end
    minus the chunk's scheduled send time."""
    rows = sum(c["rows"] for c in batch["chunks"])
    end = batch_end_ms(batch)
    return sum((end - c["sched_ms"]) * c["rows"] for c in batch["chunks"]) / rows


def paced_latencies(labelled):
    """One latency sample per paced micro-batch: latencies within a
    batch are correlated, so batches are the samples."""
    return [batch_latency_ms(b) for b in phase_batches(labelled, "paced")]


def stream_rows_per_s(labelled):
    """Burst throughput: rows of the measured burst batches over the wall
    time from the first one's start to the last one's end."""
    burst = phase_batches(labelled, "burst")
    span = max(batch_end_ms(b) for b in burst) - min(b["trigger_start_ms"] for b in burst)
    return sum(b["rows"] for b in burst) / (span / 1000.0)


# ---- spans -------------------------------------------------------------

def _union_ms(intervals):
    total, end = 0.0, -math.inf
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans):
    """Span id -> its duration minus the part of that interval its
    child spans cover (children are clipped to the parent)."""
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        if s["parent"] in by_id:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered = _union_ms([(max(lo, k["start_ms"]), min(hi, k["end_ms"]))
                             for k in kids.get(s["id"], []) if k["end_ms"] > lo and k["start_ms"] < hi])
        out[s["id"]] = (hi - lo) - covered
    return out


def span_ms(spans, name, runs=None, self_time=False):
    """Durations (or self times) of the spans called `name`, optionally
    restricted to run ids in `runs`."""
    st = self_times(spans) if self_time else None
    return [st[s["id"]] if self_time else s["end_ms"] - s["start_ms"]
            for s in spans if s["name"] == name and (runs is None or s["run"] in runs)]


# ---- end-to-end metrics -----------------------------------------------

def iteration_rows_per_s(iterations):
    return median([it["rows"] / (it["ms"] / 1000.0) for it in iterations])


def action_latencies(iterations):
    return [a["ms"] for it in iterations for a in it["actions"]]


def end_to_end(raw, attempted, failed):
    """Every end-to-end metric of one untraced run, by name."""
    p = raw["passes"]["e2e"]
    if raw["workload"] == "stream-ticks":
        labelled = label_batches(p["batches"], p["chunks"])
        rows_per_s = stream_rows_per_s(labelled)
        lat = paced_latencies(labelled)
    else:
        rows_per_s = iteration_rows_per_s(p["iterations"])
        lat = action_latencies(p["iterations"])
    return {
        "rows_per_s": rows_per_s,
        "lat_p50_ms": percentile(lat, 0.5),
        "lat_p90_ms": percentile(lat, 0.9),
        "setup_s": median(raw["setup_ms"]) / 1000.0,
        "peak_rss_mb": raw["rss_peak_b"] / float(1 << 20),
        "ok_frac": (attempted - failed) / float(attempted),
    }


def backlog_limit_rows(rate, trigger_ms, paced):
    """Largest end-of-phase backlog a sustainable paced phase leaves: the
    input of two batch cycles, a cycle being the longer of the trigger
    interval and the p90 batch duration. More means the queue grows."""
    cycle = max([trigger_ms] + ([percentile([b["durations_ms"]["triggerExecution"]
                                             for b in paced], 0.9)] if paced else []))
    return rate * 2 * cycle / 1000.0


def latency_samples(raw):
    p = raw["passes"]["e2e"]
    if raw["workload"] == "stream-ticks":
        return paced_latencies(label_batches(p["batches"], p["chunks"]))
    return action_latencies(p["iterations"])


# ---- per-layer metrics -------------------------------------------------

def rows_per_s(raw, pass_name):
    p = raw["passes"][pass_name]
    if raw["workload"] == "stream-ticks":
        return stream_rows_per_s(label_batches(p["batches"], p["chunks"]))
    return iteration_rows_per_s(p["iterations"])


def spark_layer(window, units_of_work):
    """Listener totals of one pass, per unit of work (micro-batch or
    iteration), plus peak execution memory and core utilisation."""
    n = float(max(1, units_of_work))
    return {
        "spark.jobs": window["jobs"] / n,
        "spark.tasks": window["tasks"] / n,
        "spark.shuffle_write_b": window["shuffle_write_b"] / n,
        "spark.spill_b": window["spill_b"] / n,
        "spark.gc_ms": window["gc_ms"] / n,
        "spark.peak_exec_mem_b": float(window["peak_exec_mem_b"]),
        "spark.core_util": window["run_time_ms"] / (window["wall_ms"] * window["cores"]),
    }


def window_batches(p):
    """Batches that started inside the listener's measurement window
    (burst, restart and paced batches; not query start or warm-up)."""
    return [b for b in p["batches"] if b["trigger_start_ms"] >= p["window_start_ms"]]


def _stream_layers(p, spans):
    labelled = label_batches(p["batches"], p["chunks"])
    in_window = len(window_batches(p))
    paced = phase_batches(labelled, "paced")
    measured = phase_batches(labelled, "burst") + paced
    last = max(p["batches"], key=lambda b: b["batch"])
    d = lambda b, k: b["durations_ms"].get(k, 0)
    runs = {"%s/%d" % (p["query"], b["batch"]) for b in paced}
    lags = [c["added_ms"] - c["sched_ms"] for c in p["chunks"] if c["phase"] == "paced"]
    return {
        "streaming.batches": float(in_window),
        "streaming.rows_per_batch_p50": median([b["rows"] for b in measured]),
        "streaming.trigger_ms_p50": median([d(b, "triggerExecution") for b in paced]),
        "streaming.add_batch_ms_p50": median([d(b, "addBatch") for b in paced]),
        "streaming.planning_ms_p50": median([d(b, "queryPlanning") for b in paced]),
        "streaming.wal_commit_ms_p50": median([d(b, "walCommit") for b in paced]),
        "streaming.commit_offsets_ms_p50": median([d(b, "commitOffsets") for b in paced]),
        "streaming.state_rows": float(last["state_rows"]),
        "streaming.state_mem_b": float(last["state_mem_b"]),
        "streaming.state_update_ms_p50": median([b["state_update_ms"] for b in paced]),
        "streaming.state_commit_ms_p50": median([b["state_commit_ms"] for b in paced]),
        "streaming.state_updated_frac": median(
            [b["state_updated"] / b["state_rows"] for b in paced if b["state_rows"] > 0]),
        "sinks.fanout_ms_p50": median(span_ms(spans, "sinks.fanout", runs)),
        "sinks.logging_ms_p50": median(span_ms(spans, "sinks.logging", runs, self_time=True)),
        "sinks.alerts_ms_p50": median(span_ms(spans, "sinks.alerts", runs, self_time=True)),
        "sinks.jobs_per_batch": median([b["jobs"] for b in paced]),
        "sinks.alerts_per_batch": sum(b["alerts"] for b in paced) / float(len(paced)),
        "gen.lag_p99_ms": percentile(lags, 0.99),
        "gen.backlog_end_rows": float(p["backlog_end_rows"]),
    }, in_window


def _batch_layers(p, probe, spans):
    pre = {k: median(v) / 1000.0 for k, v in probe["prefix_ms"].items()}
    op_s = lambda name: median(span_ms(spans, name, self_time=True)) / 1000.0
    return {
        "sources.scan_s": pre["sources.scan"],
        "sources.normalize_s": pre["sources.normalize"],
        "operators.clean_s": pre["operators.clean_prefix"] - pre["sources.normalize"],
        "operators.sma_s": pre["operators.sma_prefix"] - pre["operators.clean_prefix"],
        "operators.alerts_s": pre["operators.alerts_prefix"] - pre["operators.sma_prefix"],
        "operators.ohlc_s": op_s("operators.ohlc"),
        "operators.exact_dedup_s": op_s("operators.exact_dedup"),
        "operators.semantic_dedup_s": op_s("operators.semantic_dedup"),
        "operators.knn_s": op_s("operators.knn"),
        "caches.blocks_b": float(median(p["blocks_b"])),
        "caches.release_ms": median(span_ms(spans, "caches.release_all", self_time=True)),
    }, len(p["iterations"])


def per_layer(raw, spans, names):
    """Every per-layer metric of one traced run, by name. Layers the
    workload does not exercise read 0."""
    p = raw["passes"]["traced"]
    if raw["workload"] == "stream-ticks":
        got, n = _stream_layers(p, spans)
    else:
        got, n = _batch_layers(p, raw["passes"]["probe"], spans)
    got.update(spark_layer(p["spark"], n))
    untraced = rows_per_s(raw, "e2e")
    got["trace.overhead_frac"] = 1.0 - rows_per_s(raw, "traced") / untraced
    one = rows_per_s(raw, "baseline")
    got["baseline.rows_per_s_1core"] = one
    got["baseline.speedup"] = untraced / one
    unknown = set(got) - set(names)
    if unknown:
        raise KeyError("metrics missing from BENCHMARK.json: %s" % sorted(unknown))
    return {n: got.get(n, 0.0) for n in names}


# ---- output ------------------------------------------------------------

def render(values, unit_of):
    """Metric dict in the output format, in BENCHMARK.json order; a name
    or value outside the spec is an error."""
    missing = set(unit_of) - set(values)
    extra = set(values) - set(unit_of)
    if missing or extra:
        raise KeyError("metric names differ from BENCHMARK.json: missing %s, extra %s"
                       % (sorted(missing), sorted(extra)))
    out = {}
    for name, unit in unit_of.items():
        v = float(values[name])
        if math.isnan(v) or math.isinf(v):
            raise ValueError("metric %s is not a finite number" % name)
        out[name] = {"value": v, "unit": unit}
    return out


def result_line(correct, attempted, failed, metrics):
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": metrics})
