"""Turns one harness record into the benchmark's metrics.

The JVM side only timestamps; every statistic is computed here so the
arithmetic is testable without Spark (see selftest.py).
"""
import datetime
import glob
import json
import math
import os
import statistics


class TooFewSamples(ValueError):
    pass


def percentile(values, q, beyond=10):
    """Nearest-rank percentile: the value at rank ceil(q * n) of the sorted
    samples. Refuses unless at least `beyond` samples lie above that rank,
    so a p90 needs 100 samples and a p50 needs 20."""
    xs = sorted(values)
    n = len(xs)
    rank = max(1, math.ceil(q * n))
    if n - rank < beyond:
        raise TooFewSamples(f"p{round(q * 100)} of {n} samples leaves {n - rank} "
                            f"beyond it; {beyond} needed")
    return xs[rank - 1]


def interquartile_mean(values):
    """Mean of the samples left after dropping a quarter (rounded down)
    from each end of the sorted list: a few spiky samples do not move it."""
    xs = sorted(values)
    k = len(xs) // 4
    return statistics.mean(xs[k:len(xs) - k])


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Per span name: summed wall minus the wall of its direct children."""
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0.0) + (s["end"] - s["start"])
    out = {}
    for s in spans:
        own = (s["end"] - s["start"]) - child.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def descendants(spans, root_id):
    ids, out = {root_id}, []
    for s in sorted(spans, key=lambda s: s["id"]):
        if s["parent"] in ids:
            ids.add(s["id"])
            out.append(s)
    return out


def wall(s):
    return s["end"] - s["start"]


def parse_ts(ts):
    """Progress timestamps are ISO-8601 UTC with millisecond precision."""
    d = datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
    return d.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000.0


def progress(record, label):
    return [json.loads(p["json"]) for p in record["progress"] if p["label"] == label]


def batch_of_file(checkpoint):
    """File name -> micro-batch id, from the file source's metadata log."""
    out = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(path) as f:
            for line in f.read().splitlines()[1:]:
                e = json.loads(line)
                out[os.path.basename(e["path"])] = e["batchId"]
    return out


def spans_named(record, prefix):
    return [s for s in record["spans"] if s["name"].startswith(prefix)]


def one(record, name):
    return next(s for s in record["spans"] if s["name"] == name)


# ------------------------------------------------------------ end to end

def kafka_end_to_end(plan, record, res):
    drains = spans_named(record, "pipeline.drain.backlog_")
    batches = [p for s in drains for p in progress(record, s["name"].split(".")[-1])]
    drain_s = sum(wall(s) for s in drains) / 1000.0
    res["throughput_per_s"] = sum(p["numInputRows"] for p in batches) / drain_s
    # each batch's wall split in two: the sink's write (addBatch), and the
    # driver-side overhead around it (offsets, planning, WAL and commit).
    # The overhead is a few small checkpoint writes on one thread, about
    # 0.1 s a batch, so a single batch stalled 0.4 s on a shared host moves
    # a plain sum by a quarter; the interquartile mean times the batch
    # count does not move.
    res["heavy_s"] = sum(p["durationMs"].get("addBatch", 0) for p in batches) / 1000.0
    overhead = [p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0)
                for p in batches]
    res["light_s"] = interquartile_mean(overhead) * len(overhead) / 1000.0
    # open loop: delivery freshness = commit of the batch that wrote the
    # delivery - its scheduled drop
    prog = {p["batchId"]: p for p in progress(record, "open_loop")}
    commit = {b: parse_ts(p["timestamp"]) + p["durationMs"]["triggerExecution"]
              for b, p in prog.items()}
    where = batch_of_file(os.path.join(plan["work_dir"], "chk", "open_loop"))
    due = record["facts"]["open_loop.due_ms"]
    dropped = record["facts"]["open_loop.dropped_ms"]
    fresh = [commit[where[f]] - due[i] for i, f in enumerate(plan["deliveries"])]
    late = [d - u for d, u in zip(dropped, due)]
    res["latency_p50_ms"] = percentile(fresh, 0.5)
    res["pipeline.fresh_p90_ms"] = percentile(fresh, 0.9)
    res["_samples"] = {"latency_p50_ms": len(fresh), "pipeline.fresh_p90_ms": len(fresh)}
    res["pipeline.gen_late_ms"] = percentile(late, 0.9)
    # deliveries dropped but not yet committed, at each drop instant
    res["pipeline.backlog_max"] = max(
        sum(1 for j in range(i + 1) if commit[where[plan["deliveries"][j]]] > dropped[i])
        for i in range(len(dropped)))


def query_end_to_end(plan, record, res):
    light = set(plan["light"])
    timed_pass = one(record, "pass")
    keys = [s for s in record["spans"] if s["parent"] == timed_pass["id"]]
    for cls in ("heavy", "light"):
        res[f"{cls}_s"] = sum(wall(s) for s in keys
                              if (s["name"].split(".", 2)[2] in light) == (cls == "light")) / 1000.0
    res["throughput_per_s"] = len(keys) / (wall(timed_pass) / 1000.0)
    res["latency_p50_ms"] = percentile([wall(s) for s in keys], 0.5)
    res["_samples"] = {"latency_p50_ms": len(keys)}


# -------------------------------------------------------------- per layer

def engine_layers(plan, record, res, window):
    """Engine-wide layers over the timed span: jobs are attributed to it by
    time window (phases run one at a time)."""
    t0, t1 = window["start"], window["end"]
    jobs = [j for j in record["jobs"] if t0 <= j["start"] <= t1 and j["end"] > 0]
    stage_ids = {str(sid) for j in jobs for sid in j["stages"]}
    stages = [v for k, v in record["stages"].items() if k in stage_ids]
    tot = lambda k: sum(s.get(k, 0.0) for s in stages)
    w = wall(window) / 1000.0
    res["driver.gap_s"] = w - union_length([(j["start"], j["end"]) for j in jobs]) / 1000.0
    res["driver.cpu_s"] = window["cpu_ns"] / 1e9 - tot("cpu_ns") / 1e9
    res["exec.run_s"] = tot("run_ms") / 1000.0
    res["exec.cpu_s"] = tot("cpu_ns") / 1e9
    res["exec.utilization"] = res["exec.run_s"] / (w * plan["cpus"])
    res["shuffle.write_bytes"] = tot("shuffle_write_bytes")
    res["shuffle.read_bytes"] = tot("shuffle_read_bytes")
    res["shuffle.fetch_wait_s"] = tot("fetch_wait_ms") / 1000.0
    skews = [s["max_task_read_bytes"] / (s["shuffle_read_bytes"] / s["tasks"])
             for s in stages if s.get("shuffle_read_bytes", 0) > 0 and s["tasks"] > 1]
    res["shuffle.skew"] = max(skews) if skews else 1.0
    res["spill.disk_bytes"] = tot("spill_disk_bytes")
    res["spill.memory_bytes"] = tot("spill_memory_bytes")
    res["sources.input_bytes"] = tot("input_bytes")
    res["sources.input_records"] = tot("input_records")
    res["jobs"] = len(jobs)
    res["stages"] = len(stages)
    res["tasks"] = tot("tasks")
    res["jvm.gc_s"] = window["gc_ms"] / 1000.0
    res["jvm.heap_peak_mb"] = record["facts"]["heap_peak_mb"]
    res["jvm.jit_s"] = record["facts"]["jit_ms"] / 1000.0
    res["host.steal_pct"] = record["facts"].get("steal_pct", 0.0)
    u = sum(wall(s) for s in spans_named(record, "probe.untraced"))
    t = sum(wall(s) for s in spans_named(record, "probe.traced"))
    res["trace.overhead_pct"] = (t / u - 1.0) * 100.0 if u else 0.0
    return jobs


def kafka_layers(plan, record, res):
    batches = [p for s in spans_named(record, "pipeline.drain.backlog_")
               for p in progress(record, s["name"].split(".")[-1]) if p["numInputRows"] > 0]
    med = lambda k: statistics.median(p["durationMs"].get(k, 0) for p in batches)
    res["pipeline.add_batch_ms"] = med("addBatch")
    res["pipeline.query_planning_ms"] = med("queryPlanning")
    res["pipeline.latest_offset_ms"] = med("latestOffset")
    res["pipeline.wal_commit_ms"] = med("walCommit")
    res["pipeline.rows_per_batch"] = statistics.median(p["numInputRows"] for p in batches)
    files = rows = out_bytes = in_bytes = 0
    for i, d in enumerate(plan["backlogs"]):
        out = glob.glob(os.path.join(plan["work_dir"], "out", f"backlog_{i}", "*.parquet"))
        files += len(out)
        out_bytes += sum(os.path.getsize(f) for f in out)
        in_bytes += sum(os.path.getsize(f) for f in glob.glob(os.path.join(d, "*.parquet")))
        rows += sum(p["numInputRows"] for p in progress(record, f"backlog_{i}"))
    res["pipeline.sink.files"] = files
    res["pipeline.sink.bytes"] = out_bytes
    res["pipeline.sink.rows_per_file"] = rows / files
    res["pipeline.sink.bytes_per_input_byte"] = out_bytes / in_bytes
    one_rows = sum(p["numInputRows"] for p in progress(record, "local1"))
    res["pipeline.scaling"] = statistics.median(
        sum(p["numInputRows"] for p in progress(record, s["name"].split(".")[-1]))
        / wall(s) for s in spans_named(record, "pipeline.drain.backlog_")) / (
        one_rows / wall(one(record, "pipeline.drain.local1")))


# the catalog key that drives each persistent ingest index, and the
# pipeline name its per-batch IngestEvents carry
INGEST_KEYS = {"manifest": ("llm_dedup_incremental", "corpus_ingest")}


def query_layers(plan, record, res, jobs):
    light = set(plan["light"])
    timed_pass = one(record, "pass")
    keyspans = [s for s in record["spans"] if s["parent"] == timed_pass["id"]]
    for cls in ("heavy", "light"):
        mine = [s for s in keyspans if (s["name"].split(".", 2)[2] in light) == (cls == "light")]
        kids = [d for s in mine for d in descendants(record["spans"], s["id"])]
        res[f"catalog.{cls}.build_s"] = sum(wall(d) for d in kids if d["name"].endswith(".build")) / 1000.0
        res[f"catalog.{cls}.execute_s"] = sum(wall(d) for d in kids if d["name"].endswith(".execute")) / 1000.0
        js = [j for j in jobs if any(s["start"] <= j["start"] <= s["end"] for s in mine)]
        sids = {str(x) for j in js for x in j["stages"]}
        stages = [v for k, v in record["stages"].items() if k in sids]
        res[f"catalog.{cls}.jobs"] = len(js)
        res[f"catalog.{cls}.stages"] = len(stages)
        res[f"catalog.{cls}.tasks"] = sum(v["tasks"] for v in stages)
        # executor run time of the class's tasks over the class's wall x cores
        res[f"catalog.{cls}.utilization"] = sum(v.get("run_ms", 0.0) for v in stages) / (
            sum(wall(s) for s in mine) * plan["cpus"])
    for kind, (key, pipe) in INGEST_KEYS.items():
        spans = [s for s in keyspans if s["name"].endswith("." + key)]
        batches = [p for p in progress(record, key) if p["numInputRows"] > 0]
        n, docs_in, unique, appended, bl_unique, bl_probable = record["facts"][f"ingest.{pipe}"]
        js = [j for j in jobs if any(s["start"] <= j["start"] <= s["end"] for s in spans)]
        busy = sum(p["durationMs"]["triggerExecution"] for p in batches)
        batch_jobs = [j for j in js if any(
            parse_ts(p["timestamp"]) <= j["start"] <= parse_ts(p["timestamp"]) + p["durationMs"]["triggerExecution"]
            for p in batches)]
        res[f"streaming.{kind}.batch_ms"] = busy / len(batches)
        res[f"streaming.{kind}.jobs_per_batch"] = len(batch_jobs) / len(batches)
        res[f"streaming.{kind}.driver_gap_ms_per_batch"] = (
            busy - union_length([(j["start"], j["end"]) for j in batch_jobs])) / len(batches)
        res[f"streaming.{kind}.suppressed_share"] = (unique - appended) / unique
        res[f"streaming.{kind}.bloom_probable_share"] = bl_probable / bl_unique if bl_unique else 0.0
        res[f"streaming.{kind}.bloom_precision"] = (unique - appended) / bl_probable if bl_probable else 0.0


# ------------------------------------------------------------------ entry

def compute(workload, plan, record, launched_ms, gen_s, traced, per_layer_names):
    res = {}
    warm = one(record, "setup.warmup")
    res["setup_s"] = gen_s + (warm["end"] - launched_ms) / 1000.0
    if workload == "kafka_to_parquet":
        kafka_end_to_end(plan, record, res)
    else:
        query_end_to_end(plan, record, res)
    if traced:
        jobs = engine_layers(plan, record, res, one(record, "timed"))
        if workload == "kafka_to_parquet":
            kafka_layers(plan, record, res)
        else:
            query_layers(plan, record, res, jobs)
        res["self_ms"] = self_times(record["spans"])
        # layers this workload does not exercise read 0
        for n in per_layer_names:
            res.setdefault(n, 0.0)
    return res
