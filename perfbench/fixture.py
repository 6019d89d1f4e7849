"""Seeded input tables for the benchmark.

`generate(out_dir, seed)` writes the ten tables the gates read
(`region nation customer supplier part orders lineitem events documents
embeddings`, one parquet file each) at sf0.1 row counts, in the schema of
the project's sf0.1 test fixture (seed 42, `TESTDATA.md`) and drawn from
the same ranges: uniform keys, a 30-word document vocabulary plus a rare
`dup` label token (5% of documents) and eight planted exact-duplicate
texts, unit-norm 64-d embeddings.  Every value comes from `seed`, so the
same seed gives byte-identical tables.  `profile(dir)` gives the figures
the gates depend on; `record.py --reference` sets them, and each gate's
job count, warm time and output rows, beside those of the project's
fixture and writes the comparison into the baseline record.

`scale(base_dir, out_dir, copies, seed)` builds the volume workload's
scaled copy of such a base with the recipe of `graft.tools.ScalingProbe`:

- documents: copy k has every token suffixed `_k` and `doc_id + k*10^7`,
  so near-duplicate structure repeats per copy but no shingle is shared
  across copies;
- lineitem and orders: `l_orderkey` / `o_orderkey` shifted by `k*10^9`;
- events: `user_id` (and `event_id`) shifted by `k*10^7`, `ts` by 7k s;
- region, nation, customer, supplier, part, embeddings: copied unchanged
  (facts grow, dimensions do not).

Scaled tables are written in row groups of `SCALED_ROW_GROUP` rows, in a
row order drawn from the seed, so a scan splits across cores.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
DIMENSIONS = ["region", "nation", "customer", "supplier", "part", "embeddings"]

# sf0.1 row counts of the project's fixture
ROWS = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
        "lineitem": 600000, "events": 100000, "documents": 5000,
        "embeddings": 2000}

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

DAY_US = 86_400_000_000
SCALED_ROW_GROUP = 131072


def _ts(base, offsets_us):
    epoch = np.datetime64(base, "us").astype(np.int64)
    return pa.array(epoch + offsets_us, pa.timestamp("us"))


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table, path, row_group_size=None):
    pq.write_table(table, path, compression="snappy",
                   row_group_size=row_group_size)


def _documents(rng):
    n = ROWS["documents"]
    lengths = rng.integers(10, 100, n)
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), lengths.sum())]
    texts, at = [], 0
    for k in lengths:
        texts.append(" ".join(words[at:at + k]))
        at += k
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] += " dup"
    pairs = rng.choice(n, 16, replace=False)
    for src, dst in zip(pairs[:8], pairs[8:]):
        texts[dst] = texts[src]
    text = pa.array(texts, pa.string())
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": text,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": _pick(rng, [f"src{i}" for i in range(20)], n),
        "n_chars": pc.cast(pc.utf8_length(text), pa.int64()),
    })


def generate(out_dir, seed):
    """Write the ten sf0.1-shaped tables for `seed` into `out_dir`."""
    rng = np.random.Generator(np.random.PCG64(seed))
    os.makedirs(out_dir, exist_ok=True)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = ROWS["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n)})
    n = ROWS["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = ROWS["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": _pick(rng, [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN], n),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 1)})
    n = ROWS["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000, 500000, n),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n) * DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n)})
    n = ROWS["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n) * DAY_US)})
    n = ROWS["events"]
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * DAY_US, n))),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string())})
    out["documents"] = _documents(rng)
    n = ROWS["embeddings"]
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})
    for name in TABLES:
        _write(out[name], os.path.join(out_dir, f"{name}.parquet"))


def _shift(col, by):
    return pc.add(col, pa.scalar(by, col.type))


def _suffix_tokens(text, k):
    return pa.array([" ".join(f"{w}_{k}" for w in t.split(" "))
                     for t in text.to_pylist()], pa.string())


def _scaled(t, name, k):
    if name == "lineitem":
        return t.set_column(0, "l_orderkey", _shift(t["l_orderkey"], k * 10**9))
    if name == "orders":
        return t.set_column(0, "o_orderkey", _shift(t["o_orderkey"], k * 10**9))
    if name == "events":
        ts = pc.add(t["ts"], pa.scalar(7 * k * 10**6, pa.duration("us")))
        t = t.set_column(0, "event_id", _shift(t["event_id"], k * 10**7))
        t = t.set_column(1, "ts", ts)
        return t.set_column(2, "user_id", _shift(t["user_id"], k * 10**7))
    if name == "documents":
        text = _suffix_tokens(t["text"], k)
        t = t.set_column(0, "doc_id", _shift(t["doc_id"], k * 10**7))
        t = t.set_column(1, "text", text)
        return t.set_column(4, "n_chars", pc.cast(pc.utf8_length(text), pa.int64()))
    raise ValueError(name)


def scale(base_dir, out_dir, copies, seed):
    """Write `copies`-times the fact tables of `base_dir` into `out_dir`."""
    rng = np.random.Generator(np.random.PCG64(seed ^ 0x5CA1E))
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        src = os.path.join(base_dir, f"{name}.parquet")
        dst = os.path.join(out_dir, f"{name}.parquet")
        if name in DIMENSIONS:
            shutil.copyfile(src, dst)
            continue
        base = pq.read_table(src)
        t = pa.concat_tables([_scaled(base, name, k) for k in range(copies)])
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        _write(t, dst, row_group_size=SCALED_ROW_GROUP)


def _quartiles(values):
    q = np.percentile(np.asarray(values), [0, 25, 50, 75, 100])
    return [round(float(v), 3) for v in q]


def profile(data_dir):
    """The figures of a fixture the workloads depend on: row counts, the
    document lengths the image gates derive frame sizes from, the
    vocabulary, planted duplicates, line items per order (and the orders
    over q18's 250-unit threshold), and events per user."""
    def read(name, columns=None):
        return pq.read_table(os.path.join(data_dir, f"{name}.parquet"), columns=columns)
    docs = read("documents", ["text", "n_chars"])
    texts = docs["text"].to_pylist()
    words = {w for t in texts for w in t.split(" ")}
    per_order = read("lineitem", ["l_orderkey", "l_quantity"]).group_by("l_orderkey") \
        .aggregate([("l_quantity", "count"), ("l_quantity", "sum")])
    per_user = read("events", ["user_id"]).group_by("user_id") \
        .aggregate([("user_id", "count")])
    return {
        "rows": {name: pq.read_metadata(os.path.join(data_dir, f"{name}.parquet")).num_rows
                 for name in TABLES},
        "documents.n_chars": _quartiles(docs["n_chars"].to_numpy()),
        "documents.distinct_words": len(words),
        "documents.with_dup_token": sum(1 for t in texts if "dup" in t.split(" ")),
        "documents.duplicate_texts": len(texts) - len(set(texts)),
        "lineitem.lines_per_order": _quartiles(per_order["l_quantity_count"].to_numpy()),
        "lineitem.orders_over_250": int(pc.sum(pc.greater(
            pc.round(per_order["l_quantity_sum"], 2), 250)).as_py()),
        "events.users": per_user.num_rows,
        "events.per_user": _quartiles(per_user["user_id_count"].to_numpy()),
    }
