"""Seeded input generator for the benchmark.

Every input a workload reads is made here from the run's seed: the same
seed gives byte-identical files. The tables follow the schema of the
engine's parquet fixtures (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings), so every query in
`SparkEntry.queries` and its DuckDB oracle run on them unchanged. The
ETL workloads additionally get `;`-separated CSV exports of the tables
their task files read, exactly as a dasladen user would drop them into
`input/`.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
PART_ADJ = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
SHIPMODES = ["AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB"]

# Row counts per unit of scale (scale 1.0 = the fixtures' sf0.01).
PER_SCALE = {"lineitem": 60000, "orders": 15000, "customer": 1500,
             "part": 2000, "supplier": 100, "events": 10000}

US = np.int64(1_000_000)
EPOCH_1995 = int(dt.datetime(1995, 1, 1).timestamp()) * US
EPOCH_2024 = int(dt.datetime(2024, 1, 1).timestamp()) * US
DAY = 86400 * US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, scale: float, n_docs: int, n_vecs: int) -> dict:
    """All ten fixture tables at `scale` (× sf0.01 row counts), with
    `n_docs` documents and `n_vecs` embeddings.
    """
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * scale)) for k, v in PER_SCALE.items()}
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    np_ = n["part"]
    out["part"] = pa.table({
        "p_partkey": np.arange(np_, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, np_),
                                              rng.choice(PART_NOUN, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(PART_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(np_) % 1000) / 10, 1)})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": rng.integers(0, nc, no).astype("int64"),
        "o_orderstatus": rng.choice(["O", "F", "P"], no),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2405, no) * DAY),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": np.sort(rng.integers(0, no, nl)).astype("int64"),
        "l_partkey": rng.integers(0, np_, nl).astype("int64"),
        "l_suppkey": rng.integers(0, ns, nl).astype("int64"),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": _ts(EPOCH_1995 + 1 * DAY + rng.integers(0, 2499, nl) * DAY)})
    ne = n["events"]
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype="int64"),
        "ts": _ts(EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY, ne))),
        "user_id": rng.integers(0, max(1, nc // 10), ne).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    out["documents"] = documents(rng, n_docs)
    out["embeddings"] = embeddings(rng, n_vecs)
    return out


def documents(rng, n: int) -> pa.Table:
    """Random-word documents with planted duplication: about 2% exact
    copies and 8% near-duplicates (a prefix of an earlier document plus
    a tail), so the dedup, shingle and excision queries find work.
    """
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.02:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.10:
            base = texts[rng.integers(0, i)].split(" ")
            cut = max(4, int(len(base) * rng.uniform(0.5, 0.95)))
            tail = list(rng.choice(WORDS, rng.integers(1, 6)))
            texts.append(" ".join(base[:cut] + tail + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(10, 101))))
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})


def embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    """Unit-norm float vectors around ten label centroids."""
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, dim))
    x = centers[labels] * 0.15 + rng.normal(0, 1, (n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype("float32").ravel(), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype="int32"))
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32())})


def with_shipmode(rng, lineitem: pa.Table) -> pa.Table:
    """The CSV export of lineitem carries one more column, `l_shipmode`,
    empty on about 5% of rows: the cells the ETL task's `empty_as_null`
    module turns into nulls and its filter then drops.
    """
    n = lineitem.num_rows
    mode = rng.choice(SHIPMODES, n).astype(object)
    mode[rng.random(n) < 0.05] = ""
    return lineitem.append_column("l_shipmode", pa.array(mode, pa.string()))


def write_csv(table: pa.Table, path: str) -> None:
    opts = pacsv.WriteOptions(delimiter=";", include_header=True)
    pacsv.write_csv(table, path, opts)


def generate(workload: str, seed: int, out_dir: str, sizes: dict) -> dict:
    """Write the workload's inputs under `out_dir`: `tables/` (parquet)
    and, for the ETL workloads, `input/` (CSV). Returns row counts.
    """
    t = tables(seed, sizes["scale"], sizes["docs"], sizes["vecs"])
    rng = np.random.default_rng(seed + 1)
    os.makedirs(f"{out_dir}/tables", exist_ok=True)
    if workload.startswith("etl"):
        t["lineitem"] = with_shipmode(rng, t["lineitem"])
        os.makedirs(f"{out_dir}/input", exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, f"{out_dir}/tables/{name}.parquet")
    counts = {name: table.num_rows for name, table in t.items()}
    if workload == "etl_bulk":
        write_csv(t["lineitem"], f"{out_dir}/input/lineitem.csv")
        write_csv(t["orders"], f"{out_dir}/input/orders.csv")
    elif workload == "etl_many_small":
        # a pool of small inputs, cycled through by the drops
        rows, pool = sizes["small_rows"], sizes["small_pool"]
        li = t["lineitem"]
        for k in range(pool):
            write_csv(li.slice((k * rows) % li.num_rows, rows),
                      f"{out_dir}/input/small_{k}.csv")
    return counts
