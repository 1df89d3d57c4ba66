"""Steadiness record: runs every workload N times with different seeds and
reports each end-to-end metric's median, quartiles and spread
((q3 - q1) / median), with the box's fingerprint.

Usage (from the repository root):
  python3 perfbench/steadiness.py --runs 10 --first-seed 100 --out <file.json>
  python3 perfbench/steadiness.py --compare <a.json> <b.json>

`--compare` prints, per workload and metric, both sets' spreads and how
far the second median moved in the metric's worse direction.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def cpu_model():
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor()


def steal_counters():
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"values": values, "median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def record(runs, first_seed, seconds):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    s0 = steal_counters()
    out = {"nproc": os.cpu_count(), "cpu": cpu_model(), "workloads": {}}
    for w in bench["workloads"]:
        vals, wall = {}, []
        for i in range(runs):
            t = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                "--workload", w["name"], "--seed", str(first_seed + i),
                                "--seconds", str(seconds), "--trace", "0"],
                               cwd=ROOT, stdout=subprocess.PIPE, text=True)
            wall.append(time.time() - t)
            line = json.loads(p.stdout.strip().splitlines()[-1])
            assert p.returncode == 0 and line["correct"], p.stdout[-2000:]
            for k, m in line["metrics"].items():
                vals.setdefault(k, []).append(m["value"])
            print(w["name"], first_seed + i, f"{wall[-1]:.0f}s",
                  {k: round(v[-1], 3) for k, v in vals.items()}, flush=True)
        out["workloads"][w["name"]] = {"run_wall_s": summary(wall),
                                       "metrics": {k: summary(v) for k, v in vals.items()}}
    s1 = steal_counters()
    if s0 and s1 and s1[1] > s0[1]:
        out["steal_pct"] = 100.0 * (s1[0] - s0[0]) / (s1[1] - s0[1])
    return out


def compare(a, b):
    """Markdown table: per workload and metric, each set's median,
    quartiles and spread, and how far set b's median moved in the
    metric's worse direction (as a share of set a's median)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    print("| workload | metric | set | median | q1 | q3 | spread | b worse by | bound |")
    print("| --- | --- | --- | --- | --- | --- | --- | --- | --- |")
    for w, wa in a["workloads"].items():
        for k, ma in wa["metrics"].items():
            mb = b["workloads"][w]["metrics"][k]
            worse = (mb["median"] - ma["median"]) / ma["median"]
            if spec[k]["better"] == "higher":
                worse = -worse
            for name, m in (("a", ma), ("b", mb)):
                tail = f"{worse:+.3f} | {spec[k]['bound']}" if name == "b" else " | "
                print(f"| {w} | {k} | {name} | {m['median']:.4g} | {m['q1']:.4g} | "
                      f"{m['q3']:.4g} | {m['spread']:.3f} | {tail} |")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2)
    args = ap.parse_args()
    if args.compare:
        a, b = (json.load(open(p)) for p in args.compare)
        compare(a, b)
        return
    res = record(args.runs, args.first_seed, args.seconds)
    with open(args.out, "w") as f:
        json.dump(res, f, indent=1)


if __name__ == "__main__":
    main()
