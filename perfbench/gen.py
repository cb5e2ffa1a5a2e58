"""Seeded input generators for the workloads.

Every input is a pure function of the seed and the sizes below: the same
seed writes the same rows to the same files. The engine only ever sees the
files written here.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
BASE_US = 1704067200 * 1000000  # 2024-01-01T00:00:00Z
DAY_US = 86400 * 1000000
SENTINEL_USER = -1
SENTINEL_GAP_US = 30 * DAY_US  # past every window, session gap and watermark

# stream_drain: a backlog drained in large micro-batches
DRAIN = dict(events=75_000, users=10_000, span_days=3, batches=3, max_files_per_trigger=8,
             warm_files=8)
# batch_maintenance: a small TPC-H-shaped corpus plus events and documents
CORPUS = dict(parts=1800, suppliers=100, customers=1500, orders=15000, events=10000,
              event_users=150, documents=500)

_EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
    ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())])


def _events(rng, ids, ts_us, users):
    n = len(ids)
    return pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.floor(rng.random(n) * 20000) / 100.0),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }, schema=_EVENT_SCHEMA)


def _sentinel(event_id, ts_us):
    """One far-future event of a user outside the corpus: it moves every
    watermark past all real windows and sessions, so append-mode operators
    emit everything, and it matches no pipeline's filter but the flush."""
    return pa.table({
        "event_id": pa.array([event_id], pa.int64()),
        "ts": pa.array([ts_us], pa.timestamp("us")),
        "user_id": pa.array([SENTINEL_USER], pa.int64()),
        "event_type": pa.array(["flush"]),
        "value": pa.array([0.0]),
        "props": pa.array(["{}"]),
    }, schema=_EVENT_SCHEMA)


def _write_ordered(table, path, mtime_s):
    pq.write_table(table, path)
    os.utime(path, (mtime_s, mtime_s))


def _link_all(src_dir, names, dst_dir):
    os.makedirs(dst_dir, exist_ok=True)
    for name in names:
        os.link(os.path.join(src_dir, name), os.path.join(dst_dir, name))


def _props(path, values):
    with open(path, "w") as f:
        for k, v in values.items():
            f.write(f"{k}={v}\n")


def stream_drain(rng, work):
    """A backlog in `files` files whose event-time ranges follow file order;
    rows are shuffled inside each file, so arrival order is the ts order
    across files and every micro-batch is in order against the previous one.
    File mtimes follow the same order, which is the order the file source
    takes them in."""
    c = DRAIN
    d = os.path.join(work, "drain")
    stream = os.path.join(d, "stream")
    os.makedirs(stream)
    n = c["events"]
    # the flush sentinel rides in the last batch, so the drain commits
    # `batches` data batches and one closing no-data batch
    files = c["batches"] * c["max_files_per_trigger"] - 1
    ts = np.sort(rng.integers(BASE_US, BASE_US + c["span_days"] * DAY_US, n))
    users = rng.integers(0, c["users"], n)
    table = _events(rng, np.arange(n), ts, users)
    names = []
    mtime = 1_700_000_000
    for k, idx in enumerate(np.array_split(np.arange(n), files)):
        name = f"part-{k:05d}.parquet"
        _write_ordered(table.take(rng.permutation(idx)), os.path.join(stream, name), mtime + k)
        names.append(name)
    sentinel_us = int(ts[-1]) + SENTINEL_GAP_US
    flush = f"part-{files:05d}.parquet"
    _write_ordered(_sentinel(n, sentinel_us), os.path.join(stream, flush), mtime + files)
    _link_all(stream, names, os.path.join(d, "twin", "events.parquet"))
    _link_all(stream, names[:c["warm_files"]], os.path.join(d, "warm"))
    _props(os.path.join(d, "meta.properties"), {
        "events": n, "files": files, "max_files_per_trigger": c["max_files_per_trigger"],
        "sentinel_user": SENTINEL_USER, "sentinel_us": sentinel_us})
    return {"events": n, "files": files, "sentinel_us": sentinel_us}


_WORDS = np.array(
    "a the key agg row scan slow fast table value part hash merge batch spark line sort "
    "window order data column join small customer query stream filter group big vector "
    "dup index delete graph node edge core label".split())


def _documents(rng, n):
    """Bag-of-words documents; about one in six is a near copy of an earlier
    one (a few words replaced), so the dedup rows have clusters to find."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.17:
            words = texts[rng.integers(0, i)].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 12)):
                words[j] = _WORDS[rng.integers(0, len(_WORDS))]
        else:
            words = list(_WORDS[rng.integers(0, len(_WORDS), rng.integers(20, 80))])
        texts.append(" ".join(words))
    langs = np.array(["en", "de", "es", "fr", "zh"])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.integers(0, len(langs), n)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def corpus(rng, out, scale=1.0):
    """A TPC-H-shaped star schema with consistent foreign keys: every
    lineitem names an existing order, part and supplier, every order an
    existing customer, every supplier and customer an existing nation."""
    c = {k: max(1, int(v * scale)) for k, v in CORPUS.items()}
    os.makedirs(out)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    def date_us(lo, hi, n):  # whole days, as the TPC-H dates are
        return (np.datetime64(lo, "D") + rng.integers(0, (np.datetime64(hi) - np.datetime64(lo))
                                                      .astype(int), n)).astype("datetime64[us]")

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write("region", {"r_regionkey": pa.array(np.arange(5), pa.int32()), "r_name": regions})
    write("nation", {"n_nationkey": pa.array(np.arange(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    ns = c["suppliers"]
    write("supplier", {"s_suppkey": pa.array(np.arange(ns), pa.int64()),
                       "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                       "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
                       "s_acctbal": np.round(rng.random(ns) * 10000, 2)})
    nc = c["customers"]
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write("customer", {"c_custkey": pa.array(np.arange(nc), pa.int64()),
                       "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                       "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
                       "c_acctbal": np.round(rng.random(nc) * 10000, 2),
                       "c_mktsegment": segments[rng.integers(0, 5, nc)]})
    np_ = c["parts"]
    write("part", {"p_partkey": pa.array(np.arange(np_), pa.int64()),
                   "p_name": [f"part {i}" for i in range(np_)],
                   "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, np_)],
                   "p_type": np.array(["ECONOMY", "STANDARD", "PROMO"])[rng.integers(0, 3, np_)],
                   "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
                   "p_retailprice": np.round(900 + rng.random(np_) * 1100, 2)})
    no = c["orders"]
    lines = rng.integers(1, 8, no)
    write("orders", {"o_orderkey": pa.array(np.arange(no), pa.int64()),
                     "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
                     "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
                     "o_totalprice": np.round(rng.random(no) * 500000, 2),
                     "o_orderdate": date_us("1995-01-01", "2001-08-01", no),
                     "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                  "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, no)]})
    nl = int(lines.sum())
    flags = rng.integers(0, 3, nl)
    # part popularity: a popular core and a rarely bought tail, one in ten lines
    core = np_ // 2
    tail = rng.random(nl) < 0.1
    partkey = np.where(tail, rng.integers(core, np_, nl), rng.integers(0, core, nl))
    write("lineitem", {
        "l_orderkey": pa.array(np.repeat(np.arange(no), lines), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(float),
        "l_extendedprice": np.round(rng.random(nl) * 100000, 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flags],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": date_us("1995-01-02", "2001-11-04", nl)})
    ne = c["events"]
    ts = np.sort(rng.integers(BASE_US, BASE_US + 30 * DAY_US, ne))
    pq.write_table(_events(rng, np.arange(ne), ts, rng.integers(0, c["event_users"], ne)),
                   os.path.join(out, "events.parquet"))
    pq.write_table(_documents(rng, c["documents"]), os.path.join(out, "documents.parquet"))
    return {"lineitem": nl, "orders": no, "events": ne, "documents": c["documents"]}


def batch_maintenance(rng, work):
    sizes = corpus(rng, os.path.join(work, "corpus"))
    # graph_kcore_incremental needs a k=80 core that a few peel rounds
    # reach; at half scale a popular part still has ~115 distinct
    # co-purchase neighbours in the 80% base (~130 at full scale), while at
    # a fifth of the scale they sit near 80 and the peel can cascade
    corpus(rng, os.path.join(work, "warm_corpus"), scale=0.5)
    return sizes


def generate(workload, seed, work):
    """Write the inputs of `workload` under `work`; returns their sizes."""
    rng = np.random.default_rng(seed)
    if workload == "stream_drain":
        return stream_drain(rng, work)
    return batch_maintenance(rng, work)
