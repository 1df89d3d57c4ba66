"""Benchmark entry point.

Usage (from the repository root):
  python3 perfbench/run.py --workload <kafka_to_parquet|query_mix>
                           --seed <n> --seconds <s> --trace <0|1>

Builds the program if needed (perfbench/build.py), generates the
workload's inputs from the seed, runs the JVM harness once at
local[nproc], checks the program's outputs and prints every metric by
name and unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} holding the end-to-end
metrics of BENCHMARK.json untraced and its per-layer metrics traced.

The timed work is fixed by perfbench/config.json, sized so that it takes
about `run_seconds` on a 4-CPU box; `--seconds` is recorded, not used
to stretch the work, so that every run measures the same work.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = build.ROOT
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("kafka_to_parquet", "query_mix")
JVM_TIMEOUT_S = 160
GEN_REPEATS = 3

with open(os.path.join(HERE, "config.json")) as f:
    CONFIG = json.load(f)

# Spark 4 on JDK 17 outside spark-submit needs these module openings
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# named views of the generic metrics, printed for each workload
ALIASES = {
    "kafka_to_parquet": [("k2p_rows_per_s", "throughput_per_s", "rows/s"),
                         ("k2p_fresh_p50_ms", "latency_p50_ms", "ms"),
                         ("k2p_fresh_p90_ms", "pipeline.fresh_p90_ms", "ms"),
                         ("k2p_gen_late_ms", "pipeline.gen_late_ms", "ms")],
    "query_mix": [("query_heavy_s", "heavy_s", "s"), ("query_light_s", "light_s", "s")],
}


def benchmark_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return b["end_to_end"], b["per_layer"]


def generate(workload, seed, root):
    """Writes the workload's inputs under root; returns the harness plan."""
    if workload == "kafka_to_parquet":
        return gen.gen_kafka(root, seed, CONFIG)
    q = CONFIG["query_mix"]
    gen.gen_tables(os.path.join(root, "tables"), q["scale"])
    keys = sorted(q["heavy"] + q["light"])
    order = [keys[i] for i in gen.permutation(seed, len(keys))]
    return dict(q, tables_dir=os.path.join(root, "tables"), keys=order)


def run_jvm(plan, run_dir):
    """Runs the harness; returns (record, launch time in epoch ms)."""
    plan_path = os.path.join(run_dir, "plan.json")
    out_path = os.path.join(run_dir, "record.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Xmx{CONFIG['heap']}", f"-Djava.io.tmpdir={tmp}",
            "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=100",
            "-XX:-UsePerfData",
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false",
            "-cp", build.classpath(), "perfbench.Harness",
            f"plan={plan_path}", f"out={out_path}"]
    # the program's own env knobs stay unset: the benchmark measures defaults
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    log_path = os.path.join(run_dir, "jvm.log")
    t0 = time.time() * 1000.0
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=run_dir)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"harness exceeded {JVM_TIMEOUT_S} s")
    if proc.returncode != 0 or not os.path.exists(out_path):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness exited {proc.returncode}:\n{tail}")
    with open(out_path) as f:
        return json.load(f), t0


def prepare(workload, seed, seconds, trace):
    """Fresh run dir + inputs. Input generation is part of set-up; it is
    repeated into fresh dirs and its median kept."""
    run_dir = os.path.join(WORK, workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    gen_s = []
    for r in range(GEN_REPEATS):
        root = os.path.join(run_dir, f"inputs{r}")
        t = time.perf_counter()
        plan = generate(workload, seed, root)
        gen_s.append(time.perf_counter() - t)
        if r < GEN_REPEATS - 1:
            shutil.rmtree(root)
    plan.update(workload=workload, work_dir=os.path.join(run_dir, "work"),
                cpus=os.cpu_count(), trace=bool(trace), seconds=seconds)
    os.makedirs(plan["work_dir"])
    return run_dir, plan, statistics.median(gen_s)


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        end_to_end, per_layer = benchmark_metrics()
        build.build()
    except (OSError, build.BuildError) as e:
        print(f"cannot build the benchmark: {e}", file=sys.stderr)
        return 1

    run_dir, plan, gen_s = prepare(args.workload, args.seed, args.seconds, args.trace)
    try:
        record, launched_ms = run_jvm(plan, run_dir)
    except RuntimeError as e:
        print(e, file=sys.stderr)
        return 1
    try:
        res = metrics.compute(args.workload, plan, record, launched_ms, gen_s,
                              bool(args.trace), [m["name"] for m in per_layer])
    except (metrics.TooFewSamples, KeyError, StopIteration, ZeroDivisionError) as e:
        print(f"cannot compute metrics: {e!r}", file=sys.stderr)
        return 1
    problems = checks.check(args.workload, plan)
    # each harness operation fails at most once, each check id at most once
    attempted = record["attempted"] + checks.count(args.workload, plan)
    failed = len(record["failures"]) + checks.failed(problems)
    res["ops_failed_share"] = failed / attempted

    samples = res.get("_samples", {})
    wanted = per_layer if args.trace else end_to_end
    for m in end_to_end + per_layer:
        if m["name"] in res:
            n = f"  (n={samples[m['name']]})" if m["name"] in samples else ""
            print(f"{m['name']:<42} {fmt(res[m['name']]):>14} {m['unit']}{n}")
    for alias, name, unit in ALIASES[args.workload]:
        n = f"  (n={samples[name]})" if name in samples else ""
        print(f"{alias:<42} {fmt(res[name]):>14} {unit}{n}")
    if args.trace:
        print("self time by span (ms):")
        for name, ms in sorted(res["self_ms"].items(), key=lambda kv: -kv[1])[:15]:
            print(f"  {name:<48} {ms:12.1f}")
    for f in record["failures"]:
        print(f"OPERATION FAILED: {f}")
    for _, p in problems:
        print(f"CHECK FAILED: {p}")
    print("output checks: " + ("passed" if not failed else f"{failed} of {attempted} failed"))
    out = {"correct": not failed, "attempted": attempted, "failed": failed,
           "metrics": {m["name"]: {"value": res[m["name"]], "unit": m["unit"]} for m in wanted}}
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
