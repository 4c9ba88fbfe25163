"""Seeded inputs for the benchmark, written as parquet before any timing.

Two generators:

* ``lineitem(path, rows, seed)`` — the lineitem-shaped table the serve
  workloads read. The six cascade key columns are each uniform over
  exactly 8 bins of the fixed cascade key (``ServeWorkload.cascadeBins``
  in the Scala sources), so with N trained rows the
  expected number of distinct trained keys is 8^6 (1 - e^(-N/8^6)) and a
  serve row from the same distribution hits the exact table with
  probability 1 - e^(-N/8^6).
* ``corpus(dir, seed)`` — the ten tables the declared queries read (the
  query layers of a traced serve_cascade run), with the column names, types and value
  domains of the oracle-checked test corpus (TPC-H-like star schema plus
  events, documents and embeddings).

The same seed always writes the same rows.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SHIP_MODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
FILES_PER_TABLE = 8
# small row groups let Spark split each file into several scan tasks, so
# four cores stay evenly busy instead of waiting on a whole-file straggler
ROW_GROUP_ROWS = 50_000


def _write(table, path, files=1):
    os.makedirs(path, exist_ok=True) if files > 1 else os.makedirs(os.path.dirname(path), exist_ok=True)
    if files == 1:
        pq.write_table(table, path)
        return
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"),
                       row_group_size=ROW_GROUP_ROWS)


def lineitem(path, rows, seed):
    rng = np.random.Generator(np.random.PCG64(seed))
    partkey = rng.integers(1, 200001, rows)
    suppkey = rng.integers(1, 8001, rows)
    linenumber = rng.integers(1, 9, rows).astype(np.int32)
    quantity = rng.integers(1, 49, rows).astype(np.float64)
    discount = rng.integers(0, 8, rows) / 100.0
    tax = rng.integers(0, 8, rows) / 100.0
    unit = 900.0 + rng.integers(0, 10000000, rows) / 100.0 / 1000.0
    price = np.floor(quantity * unit * 100.0) / 100.0
    mode_idx = rng.integers(0, len(SHIP_MODES), rows)
    shipdate = EPOCH_1995 + rng.integers(0, 2500, rows) * np.timedelta64(86400, "s")
    logit = ((quantity - 24.5) * 0.08 + (discount - 0.035) * 40.0 - (tax - 0.035) * 30.0
             + np.where(np.isin(mode_idx, [0, 4]), 0.6, -0.2))
    label = (rng.random(rows) < 1.0 / (1.0 + np.exp(-logit))).astype(np.float64)
    # 4-class outcome of the first two cascade key fields (bin = (v-1) // width)
    klass_true = (((partkey - 1) // 25000) + 2 * ((suppkey - 1) // 1000)) % 4
    noisy = rng.random(rows) < 0.1
    klass = np.where(noisy, rng.integers(0, 4, rows), klass_true)
    table = pa.table({
        "l_orderkey": pa.array(np.arange(rows, dtype=np.int64)),
        "l_partkey": pa.array(partkey.astype(np.int64)),
        "l_suppkey": pa.array(suppkey.astype(np.int64)),
        "l_linenumber": pa.array(linenumber),
        "l_quantity": pa.array(quantity),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(discount),
        "l_tax": pa.array(tax),
        "l_shipmode": pa.array(np.array(SHIP_MODES, dtype=object)[mode_idx], pa.string()),
        "l_shipdate": pa.array(shipdate, pa.timestamp("us")),
        "label": pa.array(label),
        "klass": pa.array(klass.astype(np.float64)),
        "klass_true": pa.array(klass_true.astype(np.float64)),
    })
    _write(table, path, FILES_PER_TABLE)


WORDS = ("a the data table row column query scan sort join merge hash key value group "
         "agg window stream batch filter order line part customer spark vector big small "
         "fast slow").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def corpus(out, seed, scale=0.01):
    """The declared queries' tables at `scale` (1.0 = sf1 row counts)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = {"customer": int(150000 * scale), "supplier": int(10000 * scale),
         "part": int(200000 * scale), "orders": int(1500000 * scale),
         "lineitem": int(6000000 * scale), "events": int(1000000 * scale),
         "documents": int(50000 * scale), "embeddings": max(500, int(20000 * scale))}

    def ints(lo, hi, k, dtype=np.int64):
        return rng.integers(lo, hi, k).astype(dtype)

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    def days(start, span, k):
        return np.datetime64(start, "us") + rng.integers(0, span, k) * np.timedelta64(86400, "s")

    def put(name, cols):
        _write(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    put("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    k = n["customer"]
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object)
    put("customer", {"c_custkey": pa.array(np.arange(k, dtype=np.int64)),
                     "c_name": [f"Customer#{i:09d}" for i in range(k)],
                     "c_nationkey": pa.array(ints(0, 25, k, np.int32)),
                     "c_acctbal": pa.array(money(-999.99, 9999.99, k)),
                     "c_mktsegment": pa.array(segs[ints(0, 5, k)], pa.string())})
    k = n["supplier"]
    put("supplier", {"s_suppkey": pa.array(np.arange(k, dtype=np.int64)),
                     "s_name": [f"Supplier#{i:09d}" for i in range(k)],
                     "s_nationkey": pa.array(ints(0, 25, k, np.int32)),
                     "s_acctbal": pa.array(money(-999.99, 9999.99, k))})
    k = n["part"]
    adj = np.array(["small", "large", "red", "new", "old", "hot", "cold", "blue"], dtype=object)
    noun = np.array(["ring", "widget", "gear", "plate", "anvil", "bolt", "valve", "spring"], dtype=object)
    types = np.array(["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"], dtype=object)
    put("part", {"p_partkey": pa.array(np.arange(k, dtype=np.int64)),
                 "p_name": pa.array(adj[ints(0, 8, k)] + " " + noun[ints(0, 8, k)], pa.string()),
                 "p_brand": pa.array(np.array([f"Brand#{i}" for i in range(1, 26)], dtype=object)[ints(0, 25, k)], pa.string()),
                 "p_type": pa.array(types[ints(0, 6, k)], pa.string()),
                 "p_size": pa.array(ints(1, 51, k, np.int32)),
                 "p_retailprice": pa.array(900.0 + (np.arange(k) % 1000) / 10.0)})
    k = n["orders"]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object)
    put("orders", {"o_orderkey": pa.array(np.arange(k, dtype=np.int64)),
                   "o_custkey": pa.array(ints(0, n["customer"], k)),
                   "o_orderstatus": pa.array(np.array(["F", "O", "P"], dtype=object)[ints(0, 3, k)], pa.string()),
                   "o_totalprice": pa.array(money(1000.0, 500000.0, k)),
                   "o_orderdate": pa.array(days("1995-01-01", 2404, k), pa.timestamp("us")),
                   "o_orderpriority": pa.array(prio[ints(0, 5, k)], pa.string())})
    k = n["lineitem"]
    put("lineitem", {"l_orderkey": pa.array(ints(0, n["orders"], k)),
                     "l_partkey": pa.array(ints(0, n["part"], k)),
                     "l_suppkey": pa.array(ints(0, n["supplier"], k)),
                     "l_linenumber": pa.array(ints(1, 8, k, np.int32)),
                     "l_quantity": pa.array(ints(1, 51, k).astype(np.float64)),
                     "l_extendedprice": pa.array(money(900.0, 105000.0, k)),
                     "l_discount": pa.array(ints(0, 11, k) / 100.0),
                     "l_tax": pa.array(ints(0, 9, k) / 100.0),
                     "l_returnflag": pa.array(np.array(["A", "N", "R"], dtype=object)[ints(0, 3, k)], pa.string()),
                     "l_linestatus": pa.array(np.array(["O", "F"], dtype=object)[ints(0, 2, k)], pa.string()),
                     "l_shipdate": pa.array(days("1995-01-02", 2498, k), pa.timestamp("us"))})
    k = n["events"]
    etypes = np.array(["click", "view", "purchase", "signup", "error"], dtype=object)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(ints(0, 30 * 86400 * 1000000, k)).astype("timedelta64[us]")
    put("events", {"event_id": pa.array(np.arange(k, dtype=np.int64)),
                   "ts": pa.array(ts, pa.timestamp("us")),
                   "user_id": pa.array(ints(0, 150, k)),
                   "event_type": pa.array(etypes[ints(0, 5, k)], pa.string()),
                   "value": pa.array(money(0.01, 490.02, k)),
                   "props": [f'{{"k": {v}}}' for v in ints(0, 100, k)]})
    k = n["documents"]
    texts = []
    for i in range(k):
        if i >= 10 and rng.random() < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS, dtype=object)[ints(0, len(WORDS), int(rng.integers(8, 90)))]))
    put("documents", {"doc_id": pa.array(np.arange(k, dtype=np.int64)),
                      "text": texts,
                      "lang": pa.array(np.array(LANGS, dtype=object)[rng.choice(5, k, p=LANG_P)], pa.string()),
                      "source": [f"src{i % 20}" for i in range(k)],
                      "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    k = n["embeddings"]
    labels = ints(0, 10, k, np.int32)
    centers = rng.normal(0.0, 0.1, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.05, (k, 64))).astype(np.float32)
    put("embeddings", {"vec_id": pa.array(np.arange(k, dtype=np.int64)),
                       "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                       "label": pa.array(labels)})
