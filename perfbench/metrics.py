"""Turns a run's raw samples (result.json written by perfbench.Main)
into the benchmark's end-to-end and per-layer metrics."""
import json
import math
import re
import statistics

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# the percentiles the tail helper may report, highest first
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

OPERATORS = ("closure",)
WRITES = ("upsert", "delete", "merge", "update")
READS = ("point_read", "range_read", "scan", "cdc_read")
BACKGROUND = ("compact", "bloom_build", "vacuum")
SELF_LAYERS = ("core", "bench", "queries", "operators", "streaming", "sources",
               "planning", "scheduler", "executor")
COUNTERS = {
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.delay_ms": "ms", "scheduler.deser_ms": "ms", "executor.run_s": "s",
    "executor.cpu_s": "s", "executor.shuffle_read_mb": "MB", "executor.shuffle_write_mb": "MB",
    "executor.input_mb": "MB", "executor.spill_mb": "MB", "planning.analysis_ms": "ms",
    "planning.optimization_ms": "ms", "planning.planning_ms": "ms", "jvm.gc_s": "s",
}


def percentile(samples, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(samples)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def tail_percentile(samples):
    """(p, value) for the highest percentile in PERCENTILES that leaves
    at least ten samples beyond it; None with fewer than 20 samples."""
    n = len(samples)
    for p in PERCENTILES:
        if n * (100.0 - p) / 100.0 >= 10:
            return p, percentile(samples, p)
    return None


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def passes(result):
    """[(index, cold, traced, wall_s, cpu_s, layers)] with a pass's wall
    and CPU summed over its operations."""
    out = []
    for p in result["passes"]:
        ops = [o for o in result["ops"] if o["pass"] == p["index"]]
        out.append((p["index"], p["cold"], p["traced"], sum(o["ms"] for o in ops) / 1e3,
                    sum(o["cpu_s"] for o in ops), p["layers"]))
    return out


def warm_op_ms(result, cls):
    return [o["ms"] for o in result["ops"] if o["pass"] > 0 and o["cls"] == cls]


def counts(result, extra_checks=()):
    """(attempted, failed): every timed operation and every untimed
    check, and those that threw or failed their output check."""
    checks = [(c["name"], c["ok"]) for c in result["checks"]] + \
        [(n, ok) for n, ok, _ in extra_checks]
    attempted = len(result["ops"]) + len(checks)
    failed = sum(1 for o in result["ops"] if not o["ok"]) + sum(1 for _, ok in checks if not ok)
    return attempted, failed


def end_to_end(result):
    ps = passes(result)
    cold = [p for p in ps if p[1]]
    # a traced run's end-to-end numbers come from its untraced passes
    warm = [p for p in ps if not p[1] and not p[2]]
    return {
        "setup_s": (result["setup_s"], "s"),
        "cold_pass_s": (cold[0][3], "s"),
        "warm_pass_s": (median(p[3] for p in warm), "s"),
        "heap_retained_mb": (result["heap_retained_mb"], "MB"),
    }


def cpu_per_pass(result):
    """Median process CPU per untraced warm pass. Printed, not gated:
    table_rw's swings 0.35 (quartile spread over median) between runs,
    because its verbs generate new code that the JIT compiles mid-pass."""
    return median(p[4] for p in passes(result) if not p[1] and not p[2])


def table_summary(result):
    """The table_rw numbers: latency per write and read class, with the
    highest percentile the sample count supports, and amplification."""
    info = result["info"]
    out = {}
    for cls in ("write", "read"):
        xs = warm_op_ms(result, cls)
        out[f"{cls}_p50_ms"] = (median(xs), "ms")
        t = tail_percentile(xs)
        out[f"{cls}_tail"] = (f"p{t[0]:g}={t[1]:.1f}ms" if t else "n/a", f"n={len(xs)}")
    out["write_amp"] = (info.get("table.write_amp", 0.0), "ratio")
    out["space_amp"] = (info.get("table.space_amp", 0.0), "ratio")
    return out


def self_times(spans):
    """Self time per layer in seconds: each span's duration minus the
    part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        ivs = sorted((max(lo, c["start_ms"]), min(hi, c["end_ms"])) for c in kids.get(s["id"], []))
        covered, cur = 0.0, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        out[s["layer"]] = out.get(s["layer"], 0.0) + (hi - lo - covered) / 1e3
    return out


def per_layer(result, spans):
    """Every per-layer metric; a layer a workload never calls reads 0."""
    ps = passes(result)
    cores = result["cores"]
    cold = next(p for p in ps if p[1])
    traced_warm = [p for p in ps if p[2] and not p[1]]
    untraced_warm = [p for p in ps if not p[2] and not p[1]]
    m = {"core.session_s": (result["session_s"], "s")}
    for k, unit in COUNTERS.items():
        m[k] = (median(p[5].get(k, 0.0) for p in traced_warm), unit)
    m["executor.busy_share"] = (median(p[5].get("executor.run_s", 0.0) / (p[3] * cores)
                                       for p in traced_warm if p[3] > 0), "share")
    for k, unit in (("codegen.compile_ms", "ms"), ("codegen.classes", "count"),
                    ("codegen.source_kb", "KB"), ("jvm.jit_cpu_s", "s")):
        m[k] = (cold[5].get(k, 0.0), unit)
        m[k.replace(".", ".warm_", 1)] = (median(p[5].get(k, 0.0) for p in traced_warm), unit)
    m["jvm.code_cache_mb"] = (result["code_cache_mb"], "MB")
    m["jvm.process_cpu_s"] = (median(p[4] for p in traced_warm), "s")
    warm_ops = [o for o in result["ops"] if o["pass"] > 0]
    for name in OPERATORS:
        ops = [o for o in warm_ops if o["name"] == name]
        traced = [o for o in ops if o["layers"]]
        m[f"operators.{name}_s"] = (median(o["ms"] / 1e3 for o in ops), "s")
        m[f"operators.{name}.tasks"] = (median(o["layers"].get("scheduler.tasks", 0.0)
                                               for o in traced), "count")
        m[f"operators.{name}.shuffle_mb"] = (median(o["layers"].get("executor.shuffle_write_mb", 0.0)
                                                    for o in traced), "MB")
    for name in WRITES + READS + BACKGROUND:
        m[f"streaming.{name}_ms"] = (median(o["ms"] for o in warm_ops if o["name"] == name), "ms")
    m["sources.connector_read_ms"] = (median(o["ms"] for o in warm_ops
                                             if o["name"] == "connector_read"), "ms")
    info = result["info"]
    m["streaming.manifest_decode_ms"] = (median(info.get("table.manifest_decode_ms", [])), "ms")
    m["streaming.live_files"] = (info.get("table.live_files", 0), "count")
    m["streaming.files_scanned_per_point_read"] = (
        median(info.get("table.files_scanned_per_point_read", [])), "count")
    m["streaming.bytes_written_mb"] = (info.get("table.bytes_written_mb", 0.0), "MB")
    if result["workload"] == "table_rw":
        for k, (v, unit) in table_summary(result).items():
            if not k.endswith("_tail"):
                m[f"table.{k}"] = (v, unit)
    else:
        for k, unit in (("write_p50_ms", "ms"), ("read_p50_ms", "ms"), ("write_amp", "ratio"),
                        ("space_amp", "ratio")):
            m[f"table.{k}"] = (0.0, unit)
    st = self_times(spans)
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = (st.get(layer, 0.0), "s")
    tw = median(p[3] for p in traced_warm)
    uw = median(p[3] for p in untraced_warm)
    m["trace.warm_pass_traced_s"] = (tw, "s")
    m["trace.warm_pass_untraced_s"] = (uw, "s")
    m["trace.overhead_s"] = (tw - uw, "s")
    return m


def load_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]
