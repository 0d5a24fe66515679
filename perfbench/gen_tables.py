"""Seeded generator of the bench's synthetic tables.

Writes the ten tables the sf-scaled queries read (`region nation customer
supplier part orders lineitem events documents embeddings`), one parquet
file each, with the column names and physical types of the bench's
fixture schema. Row counts are those of sf0.1 times `sf / 0.1`, with at
least 500 documents and 500 embeddings.

Value distributions follow the fixture tables the sf-scaled queries are
written against, measured with pyarrow over their sf0.01 and sf0.1
generations:

- the TPC-H-shaped columns are uniform over the fixture's domains (e.g.
  o_orderdate 1995-01-01 plus 0-2404 days, l_shipdate 1995-01-02 plus
  0-2499 days, p_name 64 adjective-noun pairs, p_retailprice 900.0-999.9
  in steps of 0.1);
- keys are uniform: o_custkey reaches all 1500 customers at sf0.01,
  l_orderkey 14743 of 15000 orders (uniform draws give 14725); events
  have 150 users at sf0.01 (1500 at sf0.1) with 49-86 events each;
- events.ts is sorted with event_id over 30 days from 2024-01-01, mean gap
  259 s with coefficient of variation 0.99 (uniform instants); value is
  exponential with mean 49.6; props holds 100 distinct `{"k": n}`;
- documents use the 30-word vocabulary of WORDS, 10-100 words each (median
  56), lang en 0.44 and the rest about even, source `src{row % 20}`;
  exactly 5% of the rows (25 of 500, 250 of 5000) sit at random positions
  and are another row's text plus " dup", some of them of a row that is
  itself such a copy;
- embeddings are 64-d unit vectors with no cluster structure: mean cosine
  within a label equals that across labels (0.00002 and 0.00001 at sf0.1),
  and the ten labels are uniform and independent of the vector.

Over seeds 0-4 at sf0.01, the board's per-query result row counts match
those on the fixture sf0.01 tables for 18 of its 24 queries; the others
read (fixture: generated) dedup_clusters_star 47: 46-49, dedup_incremental
6: 2-9, src_json_roundtrip 25: 23-25, stream_tumbling_agg 3385: 3362-3380,
text_bm25 481: 475-489, w2_lag_sessions 9549: 9510-9563. Each query's
best of two timed passes on seeds 0 and 2 was 0.72-1.09 of its time on the
fixture tables (summed: 9.35 and 10.05 s against 10.95 s), in back-to-back
runs on a 4-cpu host whose speed moves by about a quarter between runs.

The same (seed, sf) always gives byte-identical files.

    python3 perfbench/gen_tables.py --seed 7 --sf 0.01 --out <dir>
"""
import argparse
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts of the bench tables
ROWS_SF01 = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "lineitem": 600000, "events": 100000,
             "documents": 5000, "embeddings": 2000, "users": 1500}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
EMBED_DIM = 64


def _ts(base, offsets_us):
    """timestamp[us] array `base + offsets` (offsets in microseconds)."""
    epoch_us = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(epoch_us + np.asarray(offsets_us, dtype=np.int64),
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def build(seed, sf):
    """Return {table name: pyarrow.Table} for one (seed, sf)."""
    rng = np.random.default_rng(seed)
    scale = sf / 0.1
    n = {k: max(1, int(round(v * scale))) for k, v in ROWS_SF01.items()}
    n["embeddings"] = max(n["embeddings"], 500)
    n["documents"] = max(n["documents"], 500)
    day_us = 86_400 * 1_000_000
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": 900.0 + rng.integers(0, 1000, npart) / 10.0})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1),
                           rng.integers(0, 2405, no) * day_us),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)]})
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _ts(dt.datetime(1995, 1, 2),
                          rng.integers(0, 2500, nl) * day_us)})
    ne = n["events"]
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1),
                  np.sort(rng.integers(0, 30 * day_us, ne))),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = [" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k))
             for k in rng.integers(10, 101, nd)]
    for i in rng.choice(nd, nd // 20, replace=False):
        j = (i + rng.integers(1, nd)) % nd  # any other row
        texts[i] = texts[j] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    vecs = rng.normal(size=(nv, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write(tables, out):
    """Write each table as `<out>/<name>.parquet`; return the manifest."""
    os.makedirs(out, exist_ok=True)
    digest = hashlib.sha256()
    size = 0
    rows = {}
    for name in sorted(tables):
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(tables[name], path, compression="snappy")
        with open(path, "rb") as f:
            data = f.read()
        digest.update(name.encode() + b"\0" + data)
        size += len(data)
        rows[name] = tables[name].num_rows
    return {"bytes": size, "sha256": digest.hexdigest(), "rows": rows}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(write(build(a.seed, a.sf), a.out)))


if __name__ == "__main__":
    main()
