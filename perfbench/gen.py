"""Seeded input generators.

Every input the program sees is written here, before the JVM starts and
before any timing. The same seed gives byte-identical files (and the same
file modification times, which order the file-stream source's batches).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# mtimes are pinned so the file source's oldest-first order is the
# generation order; files of one source dir are one second apart
MTIME_BASE = 1_700_000_000

KAFKA_SCHEMA = pa.schema([
    ("key", pa.binary()),
    ("value", pa.binary()),
    ("headers", pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))),
    ("topic", pa.string()),
    ("partition", pa.int32()),
    ("offset", pa.int64()),
    ("timestamp", pa.timestamp("us", tz="UTC")),
])


def write(table, path, mtime=None):
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def kafka_records(rng, n, next_offset, partitions, hot_share):
    """n Kafka-shaped records. Partition 0 is hot (`hot_share` of the
    records); payload sizes are log-normal in [8, 4096] bytes of printable
    ASCII; ~2% of payloads are null and ~1% start with invalid UTF-8 (both
    land as "")."""
    weights = np.full(partitions, (1.0 - hot_share) / (partitions - 1))
    weights[0] = hot_share
    part = rng.choice(partitions, size=n, p=weights).astype(np.int32)
    offset = np.empty(n, dtype=np.int64)
    for p in range(partitions):
        idx = np.nonzero(part == p)[0]
        offset[idx] = next_offset[p] + np.arange(len(idx))
        next_offset[p] += len(idx)
    sizes = np.clip(rng.lognormal(5.0, 1.0, size=n), 8, 4096).astype(np.int32)
    ends = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(sizes, out=ends[1:])
    data = rng.integers(32, 127, size=int(ends[-1]), dtype=np.uint8)
    kind = rng.random(n)
    bad = ends[:-1][(kind >= 0.02) & (kind < 0.03)]
    data[bad], data[bad + 1] = 0xFF, 0xFE
    valid = np.packbits(kind >= 0.02, bitorder="little")
    value = pa.BinaryArray.from_buffers(
        pa.binary(), n, [pa.py_buffer(valid), pa.py_buffer(ends), pa.py_buffer(data)])
    one = np.zeros(n, dtype=np.int32)
    header = pa.StructArray.from_arrays(
        [pa.array(["h"]).take(one), pa.array([b"v"]).take(one)], names=["key", "value"])
    ts = (1_700_000_000_000_000 + offset * 1000).astype("datetime64[us]")
    return pa.table([
        pa.array(np.char.add("key-", offset.astype(str))).cast(pa.binary()), value,
        pa.ListArray.from_arrays(pa.array(np.arange(n + 1, dtype=np.int32)), header),
        pa.array(["bench"]).take(one), pa.array(part), pa.array(offset),
        pa.array(ts, pa.timestamp("us", tz="UTC")),
    ], schema=KAFKA_SCHEMA)


def kafka_source(rng, path, files, rows, partitions, hot_share, mtime0):
    """One source directory (an independent topic: offsets start at 0)."""
    os.makedirs(path, exist_ok=True)
    next_offset = [0] * partitions
    names = []
    for i in range(files):
        t = kafka_records(rng, rows, next_offset, partitions, hot_share)
        name = f"f_{i:05d}.parquet"
        write(t, os.path.join(path, name), mtime0 + i)
        names.append(name)
    return names


def gen_kafka(root, seed, cfg):
    rng = np.random.default_rng([seed, 1])
    k = cfg["kafka"]
    plan = dict(k)
    plan["warm_dir"] = os.path.join(root, "warm")
    kafka_source(rng, plan["warm_dir"], k["warm_files"], k["rows_per_file"],
                 k["partitions"], k["hot_share"], MTIME_BASE)
    plan["backlogs"] = []
    for r in range(k["backlogs"]):
        d = os.path.join(root, f"backlog_{r}")
        kafka_source(rng, d, k["backlog_files"], k["rows_per_file"],
                     k["partitions"], k["hot_share"], MTIME_BASE)
        plan["backlogs"].append(d)
    # open loop: delivery files are written to a staging dir and renamed
    # into the (initially empty) source dir on the harness's schedule
    plan["stage_dir"] = os.path.join(root, "stage")
    plan["deliveries"] = kafka_source(
        rng, plan["stage_dir"], k["deliveries"], k["rows_per_delivery"],
        k["partitions"], k["hot_share"], MTIME_BASE)
    return plan


# ---------------------------------------------------------------- tables

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PNAME_A = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PNAME_B = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
             "fast", "filter", "group", "hash", "join", "key", "line", "merge",
             "order", "part", "query", "row", "scan", "slow", "small", "sort",
             "spark", "stream", "table", "the", "value", "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n, start="1995-01-01", days=2400):
    base = np.datetime64(start, "D").astype("datetime64[us]")
    return base + rng.integers(0, days, size=n).astype("timedelta64[D]")


def gen_tables(root, scale):
    """The star schema + events + LLM tables the query catalog reads, in
    the column types the catalog expects (naive µs timestamps, 64-d float
    embeddings). Fixed seed: the query mix's goldens are recorded on it."""
    rng = np.random.default_rng(42)
    os.makedirs(root, exist_ok=True)

    def w(name, cols):
        write(pa.table(cols), os.path.join(root, f"{name}.parquet"))

    n_cust, n_supp, n_part = int(15000 * scale), int(1000 * scale), int(20000 * scale)
    n_ord, n_ev = int(150000 * scale), int(100000 * scale)
    n_docs, n_vecs = int(50000 * scale), int(20000 * scale)
    cents = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    w("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                 "r_name": pa.array(REGIONS)})
    w("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                 "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                 "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    w("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(cents(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, n_cust)])})
    w("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(cents(-999.99, 9999.99, n_supp))})
    w("part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{PNAME_A[a]} {PNAME_B[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([PTYPES[i] for i in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2))})
    odate = _days(rng, n_ord)
    w("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array([["F", "O", "P"][i] for i in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(cents(1000, 500000, n_ord)),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array([PRIOS[i] for i in rng.integers(0, 5, n_ord)])})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1, dtype=np.int32) for k in lines])
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    w("lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array([["A", "N", "R"][i] for i in rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array([["F", "O"][i] for i in rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(np.repeat(odate, lines) + rng.integers(
            1, 120, n_li).astype("timedelta64[D]"), pa.timestamp("us"))})
    step_us = 30 * 24 * 3600 * 1_000_000 // max(n_ev, 1)   # events span ~30 days
    ev_ts = (np.datetime64("2024-01-01T00:00:00", "us")
             + np.cumsum(rng.integers(1, 2 * step_us, n_ev)).astype("timedelta64[us]"))
    w("events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(30.0, n_ev) + 0.01, 2)),
        "props": pa.array([f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)])})
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:     # exact re-crawls for the dedup keys
            texts.append(texts[int(rng.integers(i))])
        else:
            texts.append(" ".join(rng.choice(DOC_WORDS, size=int(rng.integers(10, 100)))))
    w("documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, 5, n_docs)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    emb = rng.standard_normal((n_vecs, 64)).astype(np.float32) * 0.12
    w("embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32))})


def permutation(seed, n):
    """The query mix's key order for a seed."""
    return [int(i) for i in np.random.default_rng([seed, 3]).permutation(n)]
