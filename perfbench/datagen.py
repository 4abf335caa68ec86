"""Deterministic synthetic corpus for the benchmark.

Writes the ten tables the engine's registry reads (`graft.Tables.all`), one
parquet file each, with the same column names, physical types and value
shapes as the engine's TPC-H-like test corpus: naive microsecond
timestamps, int32/int64 keys, a 31-word text vocabulary, unit-norm 64-d
float embeddings in ten label clusters. Row counts scale with `sf` the way
that corpus does (lineitem ~ 6M x sf). The data depends only on `sf` and
the fixed data seed, never on the workload seed, so every run of a workload
reads the same bytes and only the operation sequence varies.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VERSION = "2"  # bump when the generated bytes change

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
P_ADJ = ["blue", "cold", "hot", "red", "green", "small", "large", "dark"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def row_counts(sf):
    return {
        "customer": int(150_000 * sf), "orders": int(1_500_000 * sf),
        "part": int(200_000 * sf), "supplier": max(10, int(10_000 * sf)),
        "events": int(1_000_000 * sf), "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _days(base, offsets):
    return (np.datetime64(base, "us")
            + offsets.astype("timedelta64[D]").astype("timedelta64[us]"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf, clustered=False):
    rng = np.random.default_rng(DATA_SEED)
    n = row_counts(sf)
    i32, i64, f64, ts = pa.int32(), pa.int64(), pa.float64(), pa.timestamp("us")
    out = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), i32), "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32)})

    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc))})

    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns), f64)})

    npart = n["part"]
    pk = np.arange(npart)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array(np.char.add(np.char.add(
            rng.choice(P_ADJ, npart), " "), rng.choice(P_NOUN, npart))),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, npart).astype(str))),
        "p_type": pa.array(rng.choice(P_TYPES, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1), f64)})

    no = n["orders"]
    odays = rng.integers(0, 2404, no)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no), f64),
        "o_orderdate": pa.array(_days("1995-01-01", odays), ts),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no))})

    per_order = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no), per_order)
    nl = len(okey)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship = odays[okey] + rng.integers(1, 122, nl)
    perm = rng.permutation(nl)  # the corpus stores lineitem unclustered
    if clustered:
        perm = np.argsort(ship, kind="stable")
    line = {
        "l_orderkey": pa.array(okey[perm], i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl)[perm], i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl)[perm], i64),
        "l_linenumber": pa.array((np.arange(nl) - starts + 1)[perm], i32),
        "l_quantity": pa.array(qty[perm], f64),
        "l_extendedprice": pa.array(
            np.round(qty * rng.uniform(900.0, 2100.0, nl), 2)[perm], f64),
        "l_discount": pa.array(rng.integers(0, 11, nl)[perm] / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, nl)[perm] / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)[perm]),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)[perm]),
        "l_shipdate": pa.array(_days("1995-01-01", ship)[perm], ts)}
    out["lineitem"] = pa.table(line)
    if clustered:
        out["orders"] = out["orders"].take(np.argsort(odays, kind="stable"))

    ne = n["events"]
    secs = np.sort(rng.uniform(0, 30 * 86400, ne))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + (secs * 1e6).astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, max(150, nc // 10), ne), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne)),
        "value": pa.array(_money(rng, 0.01, 500.0, ne), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = n["documents"]
    texts = []
    for d in range(nd):
        if d > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, d))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": pa.array(rng.choice(LANGS, nd, p=LANG_P)),
        "source": [f"src{d % 20}" for d in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], i64)})

    nv = n["embeddings"]
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, nv)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return out


def write(sf, out_dir, clustered=False):
    """Write the corpus for scale factor `sf` into `out_dir` (idempotent).

    `clustered` stores lineitem in ship-date order and orders in order-date
    order (the same rows) and splits every table into row groups of at most
    75,000 rows, so a date-range slice touches few row groups.
    """
    stamp = os.path.join(out_dir, f"_DONE_v{VERSION}")
    if os.path.exists(stamp):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf, clustered).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy",
                       row_group_size=75_000 if clustered else None)
    open(stamp, "w").close()
    return out_dir
