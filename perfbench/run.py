#!/usr/bin/env python3
"""The repository benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload <etl_registry|table_rw>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program from
source (perfbench/build.py) and every run reuses the build while no
source changes; inputs are generated once per (workload, seed) under
`.bench_build/inputs`. The JVM runs one closed-loop client on
`local[N]`, N = the CPUs this process may use.

Standard output ends with one JSON object: `correct`, `attempted`,
`failed` and `metrics` — every end-to-end metric (`--trace 0`) or every
per-layer metric (`--trace 1`), each as {"value", "unit"}. The lines
above it give the same numbers for a reader, with the table_rw latency
classes, the error rate, and the host-load marker.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def jvm_command(cp, workload, inputs, out, seed, seconds, trace, cores, tmp):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return ["java", *opens, "-Xmx2g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-cp", cp, "perfbench.Main", "--workload", workload, "--inputs", inputs,
            "--out", out, "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(cores), "--seed", str(seed)]


def cpu_jiffies():
    """(steal, total) CPU time of the host's CPUs from /proc/stat, in
    clock ticks; (0, 0) where the file does not exist."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return 0, 0
    return (v[7] if len(v) > 7 else 0), sum(v)


def fmt(v):
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    cores = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()[0]
    cpu_start = cpu_jiffies()
    cp = build.build()
    inputs = gen.ensure(a.workload, a.seed, os.path.join(build.BUILD, "inputs"))
    out = os.path.join(build.BUILD, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    tmp = os.path.join(build.BUILD, "tmp", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    for d in (out, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    log = os.path.join(out, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(jvm_command(cp, a.workload, inputs, out, a.seed, a.seconds,
                                            a.trace, cores, tmp), stdout=lf, stderr=lf)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0 or not os.path.exists(os.path.join(out, "result.json")):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        sys.stderr.write(f"perfbench: the {a.workload} JVM ended with {code}\n")
        return 1
    with open(os.path.join(out, "result.json")) as f:
        result = json.load(f)

    extra = []
    if a.workload == "etl_registry":
        results = os.path.join(out, "results")
        with open(os.path.join(results, "oracle_sql.json")) as f:
            extra = checks.check_etl(inputs, results, json.load(f))
    attempted, failed = metrics.counts(result, extra)
    load_end = os.getloadavg()[0]
    cpu_end = cpu_jiffies()
    ticks = cpu_end[1] - cpu_start[1]
    steal = (cpu_end[0] - cpu_start[0]) / ticks if ticks > 0 else 0.0
    contended = load_start > cores

    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} cores={cores} "
          f"passes={len(result['passes'])} clients=1 (closed loop)")
    for n, ok, detail in [(c["name"], c["ok"], c["detail"]) for c in result["checks"]] + extra:
        print(f"  check {n}: {'ok' if ok else 'FAILED'} ({detail})")
    for o in result["ops"]:
        if not o["ok"]:
            print(f"  op {o['name']} in pass {o['pass']}: FAILED")
    print(f"  op_error_rate = {failed / attempted:.4g} ratio ({failed} failed of {attempted} attempted)")
    print(f"  load1 start={load_start:.2f} end={load_end:.2f} nproc={cores} "
          f"cpu_steal={100 * steal:.1f}% of CPU time during the run"
          + ("  CONTENDED: load1 above nproc at start" if contended else ""))
    print(f"  cpu_per_pass_s = {fmt(metrics.cpu_per_pass(result))} s")
    if a.workload == "table_rw":
        for k, (v, unit) in metrics.table_summary(result).items():
            print(f"  {k} = {fmt(v)} {unit}")

    if a.trace:
        spans_src = os.path.join(out, "spans.jsonl")
        spans = metrics.load_spans(spans_src)
        traces = os.path.join(build.BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        spans_dst = os.path.join(traces, f"{a.workload}.spans.jsonl")
        shutil.copyfile(spans_src, spans_dst)
        values = metrics.per_layer(result, spans)
        base = values["trace.warm_pass_untraced_s"][0]
        print(f"  spans: {len(spans)} in {os.path.relpath(spans_dst)}")
        total = sum(values[f"self.{l}_s"][0] for l in metrics.SELF_LAYERS)
        for layer in metrics.SELF_LAYERS:
            v = values[f"self.{layer}_s"][0]
            print(f"  self time {layer:<10} {v:9.3f} s  ({100 * v / total:5.1f}% of {total:.3f} s traced)")
        print(f"  tracing overhead: {values['trace.overhead_s'][0]:+.3f} s per warm pass "
              f"over an untraced warm pass of {base:.3f} s")
    else:
        values = metrics.end_to_end(result)
    for k, (v, unit) in values.items():
        print(f"  {k} = {fmt(v)} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
