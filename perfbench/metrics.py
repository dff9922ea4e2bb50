"""Metric arithmetic for the pipeline benchmark.

Pure functions over the result file the JVM harness writes: percentiles
with failed ops counted as not met, driver time from overlapping job
intervals, self time of nested spans, and the per-layer roll-up.
"""
import math
import statistics

FULL_MODES = {"full", "part-full"}
DELTA_MODES = {"delta", "part-delta"}

# Layers, in the order their metrics are declared.
OBSERVE_LAYERS = ["catalog", "lineage", "materialize", "runs", "sensors"]
INGEST_LAYERS = ["llm.text_gate", "llm_ann.vector_gate",
                 "multimodal.raster_gate", "multimodal.media_gate",
                 "multimodal.audio_gate", "llm_curation"]
QUERY_LAYERS = ["relational", "llm", "multimodal", "lineage", "catalog",
                "nodes", "materialize", "runs", "layout", "retrieval", "cdc",
                "expectations", "topk", "sketches"]
TICK_STAGES = OBSERVE_LAYERS + INGEST_LAYERS


def layers():
    seen = []
    for name in OBSERVE_LAYERS + INGEST_LAYERS + QUERY_LAYERS:
        if name not in seen:
            seen.append(name)
    return seen


def per_layer_names():
    """Every per-layer metric name with its unit, in declaration order."""
    out = []
    for layer in layers():
        out += [(f"{layer}.wall_ms", "ms"), (f"{layer}.driver_ms", "ms"),
                (f"{layer}.jobs", "count"), (f"{layer}.cpu_ms", "ms")]
    for stage in TICK_STAGES:
        out += [(f"{stage}.shuffle_bytes", "bytes"),
                (f"{stage}.build_ms", "ms")]
    out += [("indexstore.builds_full", "count"),
            ("indexstore.builds_delta", "count"),
            ("indexstore.full_on_append", "count"),
            ("indexstore.build_ms", "ms"),
            ("indexstore.bytes_written", "bytes"),
            ("spark.tasks", "count"), ("spark.sched_wait_ms", "ms"),
            ("spark.scan_bytes", "bytes"), ("spark.shuffle_bytes", "bytes"),
            ("spark.spill_bytes", "bytes"), ("sensors.state_rows", "count"),
            ("trace.run_s", "s"), ("trace.listener_ms", "ms")]
    return out


def percentile(values, p):
    """Percentile of op latencies, interpolated linearly between the two
    nearest ranks (the median of two ops is their mean). A failed op is
    `None` and ranks above every finite latency; if the percentile
    draws on one, it is not met and `None` is returned."""
    if not values:
        return None
    ranked = sorted(math.inf if v is None else v for v in values)
    h = (len(ranked) - 1) * p / 100.0
    lo, hi = ranked[math.floor(h)], ranked[math.ceil(h)]
    if math.isinf(hi):
        return None
    return lo + (hi - lo) * (h - math.floor(h))


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, each clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_ms(start_ms, end_ms, busy):
    """The part of [start_ms, end_ms] that no interval in `busy` covers:
    planning, eager construction and driver-side listing when `busy`
    holds the span's jobs (and its child spans)."""
    return (end_ms - start_ms) - covered(busy, start_ms, end_ms)


def innermost(spans, t_ms):
    """Id of the deepest span whose interval holds time `t_ms`."""
    best, best_depth = None, -1
    depth = {}
    for s in spans:  # parents precede children
        depth[s["id"]] = depth.get(s["parent"], -1) + 1
        if s["start_us"] / 1000.0 <= t_ms <= s["end_us"] / 1000.0 \
                and depth[s["id"]] > best_depth:
            best, best_depth = s["id"], depth[s["id"]]
    return best


def self_ms(spans):
    """Wall time of each span minus the wall time of its direct
    children: the time a span spent outside any nested span."""
    out = {s["id"]: (s["end_us"] - s["start_us"]) / 1000.0 for s in spans}
    for s in spans:
        if s["parent"] in out:
            out[s["parent"]] -= (s["end_us"] - s["start_us"]) / 1000.0
    return out


def per_layer(result):
    """Every per-layer metric value from a traced run's result."""
    trace = result["trace"] or {"spans": [], "jobs": [], "builds": []}
    spans, jobs, builds = trace["spans"], trace["jobs"], trace["builds"]
    values = {name: 0.0 for name, _ in per_layer_names()}
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    owned = {}
    for j in jobs:
        sid = innermost(spans, j["start_ms"])
        if sid is not None:
            owned.setdefault(sid, []).append(j)
    selfs = self_ms(spans)
    for s in spans:
        layer = s["layer"]
        if f"{layer}.wall_ms" not in values:
            continue
        lo, hi = s["start_us"] / 1000.0, s["end_us"] / 1000.0
        mine = owned.get(s["id"], [])
        kids = children.get(s["id"], [])
        busy = [(j["start_ms"], j["end_ms"]) for j in mine] + \
            [(k["start_us"] / 1000.0, k["end_us"] / 1000.0) for k in kids]
        values[f"{layer}.wall_ms"] += selfs[s["id"]]
        values[f"{layer}.driver_ms"] += driver_ms(lo, hi, busy)
        values[f"{layer}.jobs"] += len(mine)
        kid_cpu = sum(k["driver_cpu_ns"] for k in kids)
        values[f"{layer}.cpu_ms"] += (
            sum(j["cpu_ns"] for j in mine) + s["driver_cpu_ns"] - kid_cpu) / 1e6
        if f"{layer}.shuffle_bytes" in values:
            values[f"{layer}.shuffle_bytes"] += sum(
                j["shuffle_bytes"] for j in mine)
            values[f"{layer}.build_ms"] += sum(
                b["ms"] for b in builds if b["span"] == s["id"])
    at_start = set(result.get("store_at_start", []))
    for b in builds:
        if b["span"] not in by_id:
            continue
        full = b["mode"] in FULL_MODES
        values["indexstore.builds_full"] += full
        values["indexstore.builds_delta"] += b["mode"] in DELTA_MODES
        values["indexstore.full_on_append"] += full and b["artifact"] in at_start
        values["indexstore.build_ms"] += b["ms"]
        values["indexstore.bytes_written"] += b["bytes"]
    t0 = min((s["start_us"] / 1000.0 for s in spans), default=0.0)
    timed = [j for j in jobs if j["start_ms"] >= t0] if spans else []
    values["spark.tasks"] = sum(j["tasks"] for j in timed)
    values["spark.sched_wait_ms"] = sum(j["sched_wait_ms"] for j in timed)
    values["spark.scan_bytes"] = sum(j["scan_bytes"] for j in timed)
    values["spark.shuffle_bytes"] = sum(j["shuffle_bytes"] for j in timed)
    values["spark.spill_bytes"] = sum(j["spill_bytes"] for j in timed)
    values["sensors.state_rows"] = result.get("extra", {}).get(
        "sensors.state_rows", 0.0)
    values["trace.run_s"] = result["run_s"]
    values["trace.listener_ms"] = trace.get("listener_ms", 0.0)
    return values


def end_to_end(result):
    """The end-to-end metrics of an untraced run; `None` marks a value
    that is not met because an op failed."""
    ops = result["ops"]
    failed = [o for o in ops if not o["ok"]]
    walls = [None if not o["ok"] else o["wall_s"] for o in ops]
    ok = not failed
    return {
        "setup_s": result["session_s"] + statistics.median(result["setup_s"])
        + result["baseline_s"],
        "run_s": result["run_s"] if ok else None,
        "op_p50_s": percentile(walls, 50),
        "op_p90_s": percentile(walls, 90),
        "cpu_s": result["cpu_s"] if ok else None,
        "ok_frac": (len(ops) - len(failed)) / len(ops) if ops else 0.0,
        "store_bytes_per_src_byte":
            result["store_bytes"] / max(1, result["src_bytes"]),
        "rss_peak_mb": result["rss_peak_mb"],
    }


END_TO_END_UNITS = {"setup_s": "s", "run_s": "s", "op_p50_s": "s",
                    "op_p90_s": "s", "cpu_s": "s", "ok_frac": "frac",
                    "store_bytes_per_src_byte": "ratio",
                    "rss_peak_mb": "MB"}
