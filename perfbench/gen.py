"""Seeded input generator for the perfbench workloads.

Every table follows the schema and value distributions of the graft
test fixtures (a TPC-H-ish star schema plus `events`, `documents` and
`embeddings`), but is synthesised from the workload seed alone, so the
benchmark needs no input files. The same seed gives byte-identical
inputs.

Scale comes from copies of a base block:

- relational: each copy is an independent block (orders, lineitem,
  customer, supplier, part) whose keys are offset by `copy * block size`,
  so every foreign key stays inside its own copy and stays valid.
- corpus: one base corpus, then copies in the `tools/make_scale10.py`
  scheme: document text goes through a per-copy permutation of
  [a-z0-9] (within-copy near-duplicates survive, cross-copy shingle
  overlap is ~0), embedding dims go through a per-copy permutation,
  event users are offset per copy. The seed chooses the permutations.

Layout: every table is a directory `<name>.parquet/` holding
`part-NNNNN.parquet` files of equal row count; tables with at least
`MULTI_FILE_ROWS` rows get `files` parts, smaller ones get one. Each
part is written as one row group.
"""
import datetime as dt
import json
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MULTI_FILE_ROWS = 2_000

# base block sizes (one relational copy is the sf0.01 shape)
ORDERS_PER_COPY = 15_000
LINES_PER_ORDER_MEAN = 4
CUST_PER_COPY = 1_500
SUPP_PER_COPY = 100
PART_PER_COPY = 2_000

DOCS_BASE = 500
VECS_BASE = 200
EVENTS_BASE = 10_000
USERS_BASE = 150
KEY_STRIDE = 10_000_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PADJ = ["small", "new", "blue", "old", "red", "large", "hot", "cold"]
PNOUN = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
ALPHA = string.ascii_lowercase + string.digits

DAY_US = 86_400 * 1_000_000
EPOCH = dt.datetime(1970, 1, 1)


def _us(d):
    return int((d - EPOCH).total_seconds()) * 1_000_000


def _ts(values_us):
    return pa.array(values_us, pa.timestamp("us"))


def write_table(table, out_dir, name, files):
    """Write `table` as `<out_dir>/<name>.parquet/part-*.parquet`; returns
    (rows, bytes, parts)."""
    d = os.path.join(out_dir, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    n = table.num_rows
    parts = files if n >= MULTI_FILE_ROWS else 1
    size = 0
    bounds = np.linspace(0, n, parts + 1).astype(int)
    for i in range(parts):
        p = os.path.join(d, f"part-{i:05d}.parquet")
        lo, hi = bounds[i], bounds[i + 1]
        pq.write_table(table.slice(lo, hi - lo), p, row_group_size=max(1, hi - lo))
        size += os.path.getsize(p)
    return {"rows": n, "bytes": size, "files": parts}


def dims():
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    return region, nation


def relational(rng, copies):
    """orders, lineitem, customer, supplier, part; FK-consistent per copy."""
    cols = {t: [] for t in ("orders", "lineitem", "customer", "supplier", "part")}
    d0, d1 = _us(dt.datetime(1995, 1, 1)), _us(dt.datetime(2001, 8, 1))
    s1 = _us(dt.datetime(2001, 11, 4))
    for c in range(copies):
        ko, kc, ks, kp = (c * ORDERS_PER_COPY, c * CUST_PER_COPY,
                          c * SUPP_PER_COPY, c * PART_PER_COPY)
        cust = np.arange(CUST_PER_COPY)
        cols["customer"].append(pa.table({
            "c_custkey": pa.array(cust + kc, pa.int64()),
            "c_name": pa.array([f"Customer#{k:09d}" for k in cust + kc]),
            "c_nationkey": pa.array(rng.integers(0, 25, CUST_PER_COPY), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, CUST_PER_COPY), 2)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, CUST_PER_COPY))}))
        supp = np.arange(SUPP_PER_COPY)
        cols["supplier"].append(pa.table({
            "s_suppkey": pa.array(supp + ks, pa.int64()),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in supp + ks]),
            "s_nationkey": pa.array(rng.integers(0, 25, SUPP_PER_COPY), pa.int32()),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, SUPP_PER_COPY), 2))}))
        part = np.arange(PART_PER_COPY)
        cols["part"].append(pa.table({
            "p_partkey": pa.array(part + kp, pa.int64()),
            "p_name": pa.array([f"{PADJ[a]} {PNOUN[b]}" for a, b in zip(
                rng.integers(0, 8, PART_PER_COPY), rng.integers(0, 8, PART_PER_COPY))]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, PART_PER_COPY)]),
            "p_type": pa.array(rng.choice(PTYPES, PART_PER_COPY)),
            "p_size": pa.array(rng.integers(1, 51, PART_PER_COPY), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (part % 1000) * 0.1, 1))}))
        okeys = np.arange(ORDERS_PER_COPY)
        odate = (rng.integers(d0 // DAY_US, d1 // DAY_US + 1, ORDERS_PER_COPY) * DAY_US)
        cols["orders"].append(pa.table({
            "o_orderkey": pa.array(okeys + ko, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, CUST_PER_COPY, ORDERS_PER_COPY) + kc, pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], ORDERS_PER_COPY)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, ORDERS_PER_COPY), 2)),
            "o_orderdate": _ts(odate),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, ORDERS_PER_COPY))}))
        n = ORDERS_PER_COPY * LINES_PER_ORDER_MEAN
        cols["lineitem"].append(pa.table({
            "l_orderkey": pa.array(rng.integers(0, ORDERS_PER_COPY, n) + ko, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, PART_PER_COPY, n) + kp, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, SUPP_PER_COPY, n) + ks, pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
            "l_shipdate": _ts(rng.integers(d0 // DAY_US + 1, s1 // DAY_US + 1, n) * DAY_US)}))
    return {t: pa.concat_tables(v) for t, v in cols.items()}


def base_corpus(rng):
    """documents / embeddings / events of one base block."""
    texts = []
    for _ in range(DOCS_BASE):
        k = int(rng.integers(10, 101))
        texts.append(" ".join(rng.choice(VOCAB, k)))
    # planted near-duplicates: 5% of docs repeat an earlier doc plus " dup"
    for i in rng.choice(np.arange(1, DOCS_BASE), DOCS_BASE // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    docs = {
        "doc_id": np.arange(DOCS_BASE),
        "text": texts,
        "lang": rng.choice(LANGS, DOCS_BASE, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(DOCS_BASE)],
    }
    v = rng.standard_normal((VECS_BASE, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    vecs = {"vec_id": np.arange(VECS_BASE), "embedding": v,
            "label": rng.integers(0, 10, VECS_BASE)}
    t0 = _us(dt.datetime(2024, 1, 1))
    ts = np.sort(rng.integers(t0, t0 + 30 * DAY_US, EVENTS_BASE))
    events = {
        "event_id": np.arange(EVENTS_BASE),
        "ts": ts,
        "user_id": rng.integers(0, USERS_BASE, EVENTS_BASE),
        "event_type": rng.choice(EVENT_TYPES, EVENTS_BASE),
        "value": np.round(rng.exponential(50.0, EVENTS_BASE), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENTS_BASE)],
    }
    return docs, vecs, events


def corpus(rng, copies):
    """documents, embeddings, events at `copies` x the base block."""
    docs, vecs, events = base_corpus(rng)
    d_parts, v_parts, e_parts = [], [], []
    for c in range(copies):
        if c == 0:
            texts = docs["text"]
            perm = np.arange(64)
        else:
            tr = str.maketrans(ALPHA, "".join(rng.permutation(list(ALPHA))))
            texts = [t.translate(tr) for t in docs["text"]]
            perm = rng.permutation(64)
        off = c * KEY_STRIDE
        d_parts.append(pa.table({
            "doc_id": pa.array(docs["doc_id"] + off, pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(docs["lang"]),
            "source": pa.array(docs["source"]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64())}))
        emb = vecs["embedding"][:, perm]
        v_parts.append(pa.table({
            "vec_id": pa.array(vecs["vec_id"] + off, pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(emb.reshape(-1), pa.float32()), 64).cast(pa.list_(pa.float32())),
            "label": pa.array(vecs["label"], pa.int32())}))
        e_parts.append(pa.table({
            "event_id": pa.array(events["event_id"] + off, pa.int64()),
            "ts": _ts(events["ts"]),
            "user_id": pa.array(events["user_id"] + c * 1_000_000_000, pa.int64()),
            "event_type": pa.array(events["event_type"]),
            "value": pa.array(events["value"]),
            "props": pa.array(events["props"])}))
    return {"documents": pa.concat_tables(d_parts),
            "embeddings": pa.concat_tables(v_parts),
            "events": pa.concat_tables(e_parts)}


def slots(ids, seed):
    """Seeded batch slot (0-99) of each id: ids ordered by a splitmix64
    hash of (id, seed), cut into 100 equal runs, so every batch has the
    same size whatever the seed."""
    with np.errstate(over="ignore"):
        z = ids.astype(np.uint64) + np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    rank = np.empty(len(ids), np.int64)
    rank[np.argsort(z, kind="stable")] = np.arange(len(ids))
    return (rank * 100 // len(ids)).astype(np.int32)


def generate(out_dir, seed, rel_copies, corpus_copies, files):
    """Write every table under `out_dir`; returns {table: {rows, bytes, files}}."""
    rng = np.random.default_rng(seed)
    tables = {}
    region, nation = dims()
    tables["region"], tables["nation"] = region, nation
    tables.update(relational(rng, rel_copies))
    tables.update(corpus(rng, corpus_copies))
    return {name: write_table(t, out_dir, name, files) for name, t in sorted(tables.items())}


def stage_batches(out_dir, seed, base_slots):
    """The maintain workload's daily batches, as they arrive: the day-zero
    corpus (slots below `base_slots`) as `base_docs`/`base_vecs`, then per
    later slot k `docs/b<k>.parquet`, `vecs/b<k>.parquet` and the stream
    drop file `json/b<k>.json`; plus `doc_slots` (doc_id, slot) for the
    checks."""
    def read(name, key):
        t = pq.read_table(os.path.join(out_dir, f"{name}.parquet"))
        return t.append_column("slot", pa.array(slots(t[key].to_numpy(), seed)))
    docs = read("documents", "doc_id")
    vecs = read("embeddings", "vec_id")
    write_table(docs.select(["doc_id", "slot"]), out_dir, "doc_slots", 1)
    for d in ("docs", "vecs", "json"):
        os.makedirs(os.path.join(out_dir, "batches", d), exist_ok=True)

    def slot_rows(t, lo, hi):
        s = t.column("slot").to_numpy()
        return t.filter(pa.array((s >= lo) & (s < hi))).drop(["slot"])
    pq.write_table(slot_rows(docs, 0, base_slots), os.path.join(out_dir, "batches", "base_docs.parquet"))
    pq.write_table(slot_rows(vecs, 0, base_slots), os.path.join(out_dir, "batches", "base_vecs.parquet"))
    for k in range(base_slots, 100):
        bd = slot_rows(docs, k, k + 1)
        pq.write_table(bd, os.path.join(out_dir, "batches", "docs", f"b{k}.parquet"))
        pq.write_table(slot_rows(vecs, k, k + 1), os.path.join(out_dir, "batches", "vecs", f"b{k}.parquet"))
        with open(os.path.join(out_dir, "batches", "json", f"b{k}.json"), "w") as fh:
            for r in bd.select(["doc_id", "text", "lang"]).to_pylist():
                fh.write(json.dumps(r) + "\n")
