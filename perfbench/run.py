"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the library and the benchmark
from source (perfbench/build.py; class files under .bench_build, or
under $CARGO_TARGET_DIR when set), generates the run's inputs from the
seed (perfbench/gen.py), runs one JVM on local[k] with one client thread,
and prints, as the last line of standard output, one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. The line before it
is the run's detail record (seed, input summary, canary, tail percentile,
workload-named metrics, tracing overhead), also kept with the span tree
under <build-dir>/results/.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 170          # the whole run, build excluded, ends within this
HEAP = "2g"
JVM_TUNING = ["-XX:+UseSerialGC", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m"]


def cpus():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def run_jvm(root, classes, workload, run_dir, seconds, trace, budget):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"] + JVM_TUNING + [
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dlog4j2.level=ERROR"] + opens +
           ["-cp", build.classpath(root, classes), "perfbench.Main",
            workload, run_dir, str(seconds), str(trace), str(cpus())])
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"the {workload} run exceeded {budget:.0f} s")
        finally:
            # on a timeout, or when this process is interrupted or terminated
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"the {workload} run exited with code {code}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def _terminated(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None):
    signal.signal(signal.SIGTERM, _terminated)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classes = build.ensure(root, build_dir)
    started = time.monotonic()

    run_dir = os.path.join(build_dir, "runs",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    plan = gen.plan(a.workload, a.seed)
    gen.write_plan(plan, os.path.join(run_dir, "plan.json"))
    try:
        res = run_jvm(root, classes, a.workload, run_dir, a.seconds, a.trace,
                      RUN_LIMIT_S - (time.monotonic() - started))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    results = os.path.join(build_dir, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}-raw.json"), "w") as f:
        json.dump(res, f)

    attempted, failed = stats.outcome(res["records"])
    e2e, other, tail_info, store_ratio = stats.end_to_end(a.workload, res)
    detail = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "cpus": cpus(), "clients": 1, "loop": "closed",
        "inputs": plan["summary"],
        "canary_s": {"before": res["canary_s"][0], "after": res["canary_s"][1]},
        "canary_cpu_s": {"before": res["canary_cpu_s"][0], "after": res["canary_cpu_s"][1]},
        "error_rate": failed / attempted,
        "errors": [r["error"] for r in res["records"] if not r["ok"]][:5],
        "ops_by_kind": {k: sum(1 for r in res["records"] if r["kind"] == k)
                        for k in sorted({r["kind"] for r in res["records"]})},
        "end_to_end": e2e,
        "other": other,
        "named": {stats.ALIASES[a.workload].get(k, k): v
                  for k, v in {**e2e, **other, "op_ms_tail": tail_info["op_ms_tail"]}.items()},
        "op_ms": [r["ms"] for r in res["records"]
                  if r["kind"] == stats.PRIMARY[a.workload] and not r["warmup"]],
        "op_cpu_ms": [r["cpu_ms"] for r in res["records"]
                      if r["kind"] == stats.PRIMARY[a.workload] and not r["warmup"]],
        "tail": tail_info,
        "store_bytes_per_live_byte": store_ratio,
        "phases_s": res["phases_s"],
        "setup_repeats_cpu_s": res["stats"]["setup_cpu_s"],
        "setup_repeats_wall_s": res["stats"]["setup_wall_s"],
    }
    correct = failed == 0
    if a.trace:
        layers = stats.rollup(a.workload, res)
        detail["per_layer"] = layers
        if a.workload == "chat_session":
            covered, turn_ms = stats.span_coverage(res, "turn")
            share = covered / turn_ms
            detail["span_coverage"] = {"covered_ms": covered, "wall_ms": turn_ms,
                                       "share": share, "bound": stats.SPAN_COVERAGE_BOUND}
            correct = correct and abs(1.0 - share) <= stats.SPAN_COVERAGE_BOUND
        untraced = os.path.join(results, f"{a.workload}-seed{a.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                prev = json.load(f)
            base = {**prev["end_to_end"], **prev["other"]}
            detail["tracing_overhead"] = {k: v - base[k] for k, v in {**e2e, **other}.items()}
        else:
            detail["tracing_overhead"] = "run --trace 0 with the same seed first"
        with open(os.path.join(results, f"{a.workload}-seed{a.seed}-spans.json"), "w") as f:
            json.dump({"span_tree": stats.span_tree(res), "rollup": layers}, f)
        metrics = {name: {"value": layers[name], "unit": unit}
                   for name, unit, _ in stats.PER_LAYER}
    else:
        metrics = {name: {"value": e2e[name], "unit": unit}
                   for name, unit, _ in stats.END_TO_END}
    with open(os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
