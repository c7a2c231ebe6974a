"""Seeded input generator for the benchmark workloads.

Every table mirrors the schema of the engine's input contract
(FIXTURES.md section B) and the marginals of its reference sf0.1 data;
only the sizes and, for `events`, the symbol count differ. The output is
a pure function of (seed, sizes): numpy's PCG64 stream per table plus
pyarrow's writer with fixed options, one row group per file, so the same
seed gives byte-identical parquet (selftest.py's GeneratorTest proves
it).

Single-threaded by design: determinism does not depend on thread count.
"""
import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Table index for the per-table PCG64 sub-stream: a table's rows depend
# on (seed, table) only, never on which other tables a workload writes.
TABLE_IDS = {t: i for i, t in enumerate(
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split())}

EPOCH = dt.datetime(1970, 1, 1)


def _us(d):
    return int((d - EPOCH) / dt.timedelta(microseconds=1))


def _rng(seed, table):
    return np.random.default_rng([seed, TABLE_IDS[table]])


def _money(x):
    return np.round(x, 2)


def events(seed, n, symbols, events_per_user=67):
    """Trading events: `event_type` is the symbol, `value` the price.

    Each symbol walks its own log-price path from an Exp(mean 50) base,
    so about 13% of prices sit at or above 100, as in the reference
    data; `user_id` is uniform with about `events_per_user` events per
    user. `ts` spans 30 days in strictly arrival (event_id) order.
    """
    r = _rng(seed, "events")
    ts0 = _us(dt.datetime(2024, 1, 1))
    span = 30 * 86400 * 10**6
    ts = np.sort(r.integers(ts0, ts0 + span, n))
    sym = r.integers(0, symbols, n)
    # Exp(mean 50) quantiles dealt to symbols in seeded order: the share
    # of prices >= 100 stays at the reference's ~13% on every seed
    base = -50.0 * np.log(1.0 - (np.arange(symbols) + 0.5) / symbols)
    base = np.maximum(r.permutation(base), 0.5)
    steps = r.normal(0.0, 0.004, n)
    # per-symbol cumulative walk, in arrival order
    order = np.argsort(sym, kind="stable")
    s_steps, s_sym = steps[order], sym[order]
    cum = np.cumsum(s_steps)
    first = np.searchsorted(s_sym, s_sym)
    walk = np.empty(n)
    walk[order] = cum - cum[first] + s_steps[first]
    value = _money(base[sym] * np.exp(walk))
    users = max(1, n // events_per_user)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, users, n), type=pa.int64()),
        "event_type": pa.array([f"sym{s:03d}" for s in sym]),
        "value": pa.array(value, type=pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    })


def region():
    return pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })


def nation():
    return pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    })


SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def customer(seed, n):
    r = _rng(seed, "customer")
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(r.integers(0, 25, n), type=pa.int32()),
        "c_acctbal": _money(r.uniform(-999.99, 9999.99, n)),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n)],
    })


def supplier(seed, n):
    r = _rng(seed, "supplier")
    return pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(r.integers(0, 25, n), type=pa.int32()),
        "s_acctbal": _money(r.uniform(-999.99, 9999.99, n)),
    })


ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def part(seed, n):
    r = _rng(seed, "part")
    a, b = r.integers(0, 8, n), r.integers(0, 8, n)
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "p_partkey": pa.array(keys),
        "p_name": [f"{ADJ[i]} {NOUN[j]}" for i, j in zip(a, b)],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n)],
        "p_type": [PTYPES[i] for i in r.integers(0, 6, n)],
        "p_size": pa.array(r.integers(1, 51, n), type=pa.int32()),
        "p_retailprice": _money(900.0 + (keys % 1000) / 10.0),
    })


PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _days(r, lo, hi, n):
    d0, d1 = _us(lo) // 86400_000000, _us(hi) // 86400_000000
    return pa.array(r.integers(d0, d1 + 1, n) * 86400_000000,
                    type=pa.timestamp("us"))


def orders(seed, n, customers):
    r = _rng(seed, "orders")
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, customers, n), type=pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n)],
        "o_totalprice": _money(r.uniform(1000.0, 500000.0, n)),
        "o_orderdate": _days(r, dt.datetime(1995, 1, 1),
                             dt.datetime(2001, 8, 1), n),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n)],
    })


def lineitem(seed, n, orders_n, parts, suppliers):
    r = _rng(seed, "lineitem")
    return pa.table({
        "l_orderkey": pa.array(r.integers(0, orders_n, n), type=pa.int64()),
        "l_partkey": pa.array(r.integers(0, parts, n), type=pa.int64()),
        "l_suppkey": pa.array(r.integers(0, suppliers, n), type=pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), type=pa.int32()),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(r.uniform(900.0, 105000.0, n)),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n)],
        "l_shipdate": _days(r, dt.datetime(1995, 1, 2),
                            dt.datetime(2001, 11, 4), n),
    })


WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast the row agg key query a scan batch").split()
LANGS = ["de", "en", "es", "fr", "zh"]


def documents(seed, n, near_dup_frac=0.05, exact_dup_frac=0.002):
    """Bag-of-words documents over the reference's 30-word vocabulary,
    10-100 words each; 5% are an earlier document plus the token "dup"
    (near duplicates) and 0.2% are exact copies of an earlier one."""
    r = _rng(seed, "documents")
    texts = []
    for i in range(n):
        u = r.random()
        if i > 0 and u < near_dup_frac:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        elif i > 0 and u < near_dup_frac + exact_dup_frac:
            texts.append(texts[int(r.integers(0, i))])
        else:
            k = int(r.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in r.integers(0, 30, k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": [LANGS[i] for i in r.integers(0, 5, n)],
        "source": [f"src{i}" for i in r.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings(seed, n, dim=64, labels=10):
    """Unit-norm float32 vectors with a weak per-label centroid pull."""
    r = _rng(seed, "embeddings")
    centroids = r.normal(0.0, 1.0, (labels, dim))
    lab = r.integers(0, labels, n)
    v = r.normal(0.0, 1.0, (n, dim)) + 0.5 * centroids[lab]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(lab, type=pa.int32()),
    })


def build(seed, sizes):
    """{table: pyarrow.Table} for a workload's `sizes` spec."""
    out = {}
    if "events" in sizes:
        e = sizes["events"]
        out["events"] = events(seed, e["rows"], e["symbols"])
    if "lineitem" in sizes:
        s = sizes
        out["region"] = region()
        out["nation"] = nation()
        out["customer"] = customer(seed, s["customer"])
        out["supplier"] = supplier(seed, s["supplier"])
        out["orders"] = orders(seed, s["orders"], s["customer"])
        out["lineitem"] = lineitem(seed, s["lineitem"], s["orders"],
                                   s["part"], s["supplier"])
    if "part" in sizes:
        out["part"] = part(seed, sizes["part"])
    if "documents" in sizes:
        out["documents"] = documents(seed, sizes["documents"])
    if "embeddings" in sizes:
        out["embeddings"] = embeddings(seed, sizes["embeddings"])
    return out


def write(tables, out_dir):
    """Write one single-row-group parquet file per table; return the
    input fingerprint (sha256 over the sorted file names and bytes)."""
    os.makedirs(out_dir, exist_ok=True)
    h = hashlib.sha256()
    for name in sorted(tables):
        path = os.path.join(out_dir, f"{name}.parquet")
        t = tables[name]
        pq.write_table(t, path, row_group_size=max(1, t.num_rows),
                       compression="snappy")
        h.update(name.encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()
