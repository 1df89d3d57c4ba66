"""Output checks, run after the JVM exits (untimed).

Each function returns a list of (check id, problem) pairs; an empty list
means the outputs are correct. Every check id counts as one attempted
operation, and as at most one failed one however many problems it finds
(see `failed`).
"""
import decimal
import glob
import hashlib
import json
import math
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDENS = os.path.join(HERE, "goldens.json")
KAFKA_CHECKS = ("rows", "order", "file_size")
NAME = re.compile(r"partition_(\d+)_batch_(\d+)\.parquet$")


def payload(v):
    """The reference's rule: null or invalid UTF-8 lands as ""."""
    if v is None:
        return ""
    try:
        return v.decode("utf-8")
    except UnicodeDecodeError:
        return ""


def text_or_bytes(v):
    try:
        return v.decode("utf-8")
    except UnicodeDecodeError:
        return v


def expected_partitions(files):
    by = {}
    for f in files:
        t = pq.read_table(f, columns=["value", "partition", "offset"]).to_pydict()
        for v, p, o in zip(t["value"], t["partition"], t["offset"]):
            by.setdefault(p, []).append((o, payload(v)))
    return {p: [v for _, v in sorted(rows)] for p, rows in by.items()}


def landed_partitions(out_dir):
    """Partition -> ([rows per file in batch order], concatenated payloads),
    and the problems with the files: an unexpected name, a gap in a
    partition's batch numbering or a file without a readable `b` column.
    A payload that is not valid UTF-8 is kept as its bytes, so it matches
    no expected string."""
    by, problems = {}, []
    for f in glob.glob(os.path.join(out_dir, "*.parquet")):
        m = NAME.search(f)
        if not m:
            problems.append(f"unexpected output file {os.path.basename(f)}")
            continue
        by.setdefault(int(m.group(1)), []).append((int(m.group(2)), f))
    out = {}
    for p, files in by.items():
        files.sort()
        if [b for b, _ in files] != list(range(len(files))):
            problems.append(f"partition {p}: batch numbers are not 0..{len(files) - 1}")
        sizes, values = [], []
        for _, f in files:
            try:
                col = pq.read_table(f).column("b").cast(pa.binary()).to_pylist()
            except (OSError, KeyError, pa.ArrowException) as e:
                problems.append(f"{os.path.basename(f)}: {e}")
                continue
            sizes.append(len(col))
            values.extend(None if v is None else text_or_bytes(v) for v in col)
        out[p] = (sizes, values)
    return out, problems


def check_sink(label, inputs, out_dir, batch_size):
    """The KAFKA_CHECKS of one sink, each id `label:check`."""
    expected = expected_partitions(inputs)
    landed, named = landed_partitions(out_dir)
    problems = [(f"{label}:order", f"{label}: {m}") for m in named]
    n_exp = sum(len(v) for v in expected.values())
    n_got = sum(len(v) for _, v in landed.values())
    if n_got != n_exp:
        problems.append((f"{label}:rows", f"{label}: landed {n_got} rows, generated {n_exp}"))
    for p, vals in expected.items():
        if landed.get(p, ([], []))[1] != vals:
            problems.append((f"{label}:order",
                             f"{label}: partition {p} does not reproduce its payloads in offset order"))
    big = [(p, n) for p, (sizes, _) in landed.items() for n in sizes if n > batch_size]
    if big:
        problems.append((f"{label}:file_size",
                         f"{label}: {len(big)} files exceed batch_size={batch_size}"))
    return problems


def check_kafka(plan):
    work = plan["work_dir"]
    problems = []
    for i, d in enumerate(plan["backlogs"]):
        problems += check_sink(f"backlog_{i}", sorted(glob.glob(os.path.join(d, "*.parquet"))),
                               os.path.join(work, "out", f"backlog_{i}"), plan["batch_size"])
    opened = [os.path.join(work, "open_src", f) for f in plan["deliveries"]]
    missing = [f for f in opened if not os.path.exists(f)]
    if missing:
        return problems + [("open_loop:rows", f"open_loop: {len(missing)} deliveries never dropped")]
    return problems + check_sink("open_loop", opened, os.path.join(work, "out", "open_loop"),
                                 plan["batch_size"])


# ------------------------------------------------------------- query mix

def norm(v):
    """Value normalisation of the oracle compare: floats to 6 places with
    -0.0 folded; nested values recursively."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v + 0.0, 6)
    if isinstance(v, decimal.Decimal):
        return norm(float(v))
    if isinstance(v, (list, tuple)):
        return [norm(x) for x in v]
    if isinstance(v, dict):
        return {k: norm(x) for k, x in sorted(v.items())}
    return v


def result_digest(columns, rows):
    """(row count, order-insensitive digest) with columns sorted by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(json.dumps([norm(r[i]) for i in order], default=str) for r in rows)
    h = hashlib.sha256()
    h.update(json.dumps(sorted(columns)).encode())
    for line in lines:
        h.update(line.encode() + b"\n")
    return len(rows), h.hexdigest()


def read_result(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no result files under {path}")
    t = pq.read_table(files[0]) if len(files) == 1 else pq.ParquetDataset(files).read()
    cols = t.column_names
    data = t.to_pydict()
    return cols, list(zip(*(data[c] for c in cols))) if cols else []


def check_query(plan):
    with open(GOLDENS) as f:
        goldens = json.load(f)["keys"]
    problems = []
    for k in plan["keys"]:
        try:
            n, h = result_digest(*read_result(os.path.join(plan["work_dir"], "results", k)))
        except Exception as e:  # unreadable or missing result
            problems.append((k, f"{k}: {e}"))
            continue
        g = goldens.get(k)
        if g is None:
            problems.append((k, f"{k}: no golden"))
        elif (n, h) != (g["rows"], g["hash"]):
            problems.append((k, f"{k}: rows={n} hash={h[:12]} expected rows={g['rows']} "
                                f"hash={g['hash'][:12]}"))
    return problems


def check(workload, plan):
    return check_kafka(plan) if workload == "kafka_to_parquet" else check_query(plan)


def count(workload, plan):
    if workload == "kafka_to_parquet":
        return len(KAFKA_CHECKS) * (len(plan["backlogs"]) + 1)
    return len(plan["keys"])


def failed(problems):
    """Failed checks: one per check id, however many problems it found."""
    return len({cid for cid, _ in problems})
