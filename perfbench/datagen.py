"""Deterministic benchmark inputs.

``write_fixtures`` writes the ten fixture tables the query corpus reads
(the TPC-H-style star schema, ``events``, ``documents`` and
``embeddings``, with the column names and types of the driver fixtures
described in FIXTURES.md) at a given scale factor.  The fixtures are
fixed: they depend only on the scale factor, never on the workload seed.

``make_cdc_batch`` derives one change batch over ``orders`` from the
workload seed.  The properties the apply path is sensitive to are the
module constants below: key skew (Zipf over ``o_orderkey``), the
insert/update/delete mix, the batch size relative to the table, and how
often rows share an offset (one source transaction, one commit LSN).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

OP_DELETE, OP_INSERT, OP_UPDATE = 1, 2, 4      # operators.cdc encoding

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
_PART_NOUN = ["ring", "gear", "widget", "gizmo", "bolt", "plate", "anvil",
              "rod"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_VOCAB = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()


def _days(rng, n, start: str, end: str):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def fixture_sizes(sf: float) -> dict[str, int]:
    return {"customer": max(150, int(150_000 * sf)),
            "supplier": max(10, int(10_000 * sf)),
            "part": max(200, int(200_000 * sf)),
            "orders": max(1_500, int(1_500_000 * sf)),
            "lineitem": max(6_000, int(6_000_000 * sf)),
            "events": max(1_000, int(1_000_000 * sf)),
            "documents": max(500, int(50_000 * sf)),
            "embeddings": max(500, int(20_000 * sf))}


def write_fixtures(out_dir: str, sf: float) -> None:
    """Write every fixture table of scale factor ``sf`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(FIXTURE_SEED)
    n = fixture_sizes(sf)
    i32, i64 = pa.int32(), pa.int64()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": _REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, nc)})

    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99)})

    np_ = n["part"]
    pk = np.arange(np_)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, np_),
                                              rng.choice(_PART_NOUN, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(_PART_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})

    no = n["orders"]
    _write(out_dir, "orders", _orders_cols(rng, np.arange(no), nc))

    nl = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, np_, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(float),
        "l_extendedprice": _money(rng, nl, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04")})

    ne = n["events"]
    month_us = 30 * 86_400 * 1_000_000
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne), i64),
        "ts": np.sort(rng.integers(0, month_us, ne))
        + np.datetime64("2024-01-01T00:00:00", "us"),
        "user_id": pa.array(rng.integers(0, max(1, nc // 10), ne), i64),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:    # near-duplicate of an older doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB, rng.integers(10, 90))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": rng.choice(_LANGS, nd, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], i64)})

    nv = n["embeddings"]
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, nv)
    vecs = centers[labels] + rng.normal(0.0, 0.8, (nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


def _orders_cols(rng, keys, n_customers: int) -> dict:
    k = len(keys)
    return {
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_customers, k), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], k),
        "o_totalprice": _money(rng, k, 1_000.0, 500_000.0),
        "o_orderdate": _days(rng, k, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(_PRIORITIES, k)}


#: rows in the change batch ÷ rows in ``orders``
BATCH_FRAC = 0.01
#: Zipf exponent of the keys that updates and deletes hit
ZIPF_A = 1.3
#: insert, update and delete shares of the batch
MIX = (0.2, 0.65, 0.15)
#: share of rows that join the previous row's offset (same transaction)
SHARED_OFFSET = 0.3


def make_cdc_batch(out_dir: str, sf_dir: str, seed: int) -> str:
    """Write one parquet change batch over ``orders`` (payload columns +
    ``op`` + ``offset``) to ``out_dir`` and return its path."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_orders = pq.ParquetFile(
        os.path.join(sf_dir, "orders.parquet")).metadata.num_rows
    n_customers = pq.ParquetFile(
        os.path.join(sf_dir, "customer.parquet")).metadata.num_rows
    n = max(10, int(n_orders * BATCH_FRAC))
    # hot keys are a seed-chosen permutation, so skew lands on different
    # orders from one seed to the next
    ranked_keys = rng.permutation(n_orders)
    ops = rng.choice([OP_INSERT, OP_UPDATE, OP_DELETE], n, p=list(MIX))
    rank = np.minimum(rng.zipf(ZIPF_A, n) - 1, n_orders - 1)
    keys = ranked_keys[rank].astype(np.int64)
    fresh = ops == OP_INSERT
    keys[fresh] = np.arange(n_orders, n_orders + fresh.sum())
    shared = rng.random(n) < SHARED_OFFSET
    offsets = np.empty(n, np.int64)
    offset, updated = 0, set()           # (key, offset) pairs with an update
    for i in range(n):
        # two updates of one key in one transaction have no defined
        # order: such a row opens a new transaction instead
        if (i == 0 or not shared[i]
                or (ops[i] == OP_UPDATE and (keys[i], offset) in updated)):
            offset += 1
        offsets[i] = offset
        if ops[i] == OP_UPDATE:
            updated.add((keys[i], offset))
    cols = _orders_cols(rng, keys, n_customers)
    cols["op"] = pa.array(ops, pa.int32())
    cols["offset"] = pa.array(offsets, pa.int64())
    _write(out_dir, "batch", cols)
    return os.path.join(out_dir, "batch.parquet")
