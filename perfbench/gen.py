"""Seeded input generator for the graft benchmark.

Writes the ten tables graft's query builders read (`events`, `documents`,
`embeddings` and the TPC-H-shaped star schema) as parquet into one
directory, with the column names and types of the graded test data, so
every builder and every DuckDB oracle reads them unchanged. The same
(workload, seed) always yields the same content: all
randomness comes from one `numpy.random.Generator` per table, seeded from
the workload seed.

The per-workload size profile in `SIZES` sets the shape each workload is
meant to stress; `shapes()` reports the row counts and record shapes the
workload reads.
"""
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per workload. `events` is records x samples: `signals` has few
# long records, so window compute per record dominates. `corpus` scales a
# base corpus by `copies` with the per-copy text rotation and coordinate
# permutation, so near-duplicate candidates grow linearly with the copies.
SIZES = {
    "signals": dict(records=64, samples=1600, lineitem=2000, orders=500, customers=100,
                    parts=100, suppliers=20, docs=40, doc_copies=1, vecs=40, vec_copies=1),
    "corpus": dict(records=32, samples=200, lineitem=2000, orders=500, customers=100,
                   parts=100, suppliers=20, docs=120, doc_copies=2, vecs=120, vec_copies=2),
}

EVENT_TYPES = ["signup", "click", "error", "purchase", "view"]
WORDS = ("the fast key order sort table scan merge part window small hash join batch "
         "stream spark dup group query row data slow filter customer line value agg "
         "column big vector a c").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
EPOCH_2024_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z in microseconds
DAY_US = 86_400 * 1_000_000


def _rng(seed, table):
    # one independent stream per table: resizing one table never shifts
    # the content of another
    return np.random.default_rng([seed, sum(map(ord, table))])


def _ts(values_us):
    return pa.array(values_us, type=pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _curves(g, records, samples):
    """Per record: a slow oscillation with one hump, one dip and noise, so
    argmax instants, SavGol indicators and tube fits all see structure.
    Values carry two decimals, like the graded tables."""
    t = np.arange(samples, dtype=np.float64)
    out = []
    for _ in range(records):
        base = g.uniform(40, 60)
        slow = g.uniform(5, 15) * np.sin(2 * np.pi * t / g.uniform(samples / 3, samples) + g.uniform(0, 6.3))
        hump_c, dip_c = g.uniform(0.1, 0.9, 2) * samples
        hump_w, dip_w = g.uniform(0.02, 0.08, 2) * samples
        hump = g.uniform(20, 60) * np.exp(-((t - hump_c) / hump_w) ** 2)
        dip = g.uniform(10, 30) * np.exp(-((t - dip_c) / dip_w) ** 2)
        v = base + slow + hump - dip + g.normal(0, 2.0, samples)
        out.append(np.round(np.abs(v) + 0.01, 2))
    return out


def events(seed, records, samples):
    """`records` signals of `samples` points each, in the `events` schema
    that `Opset.fromEvents` reads (record = user_id, order = ts)."""
    g = _rng(seed, "events")
    vals = _curves(g, records, samples)
    users, ts = [], []
    step = 30 * DAY_US // samples  # a month of samples per record
    for r in range(records):
        users.append(np.full(samples, r, dtype=np.int64))
        ts.append(EPOCH_2024_US + np.cumsum(g.integers(step // 2, step * 3 // 2, samples)))
    value = np.concatenate(vals)
    user = np.concatenate(users)
    tsv = np.concatenate(ts)
    order = np.lexsort((user, tsv))  # event ids follow event time, as in the graded data
    n = len(order)
    etype = np.array(EVENT_TYPES)[g.integers(0, len(EVENT_TYPES), n)]
    props = np.array([f'{{"k": {k}}}' for k in range(100)])[g.integers(0, 100, n)]
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(tsv[order]),
        "user_id": pa.array(user[order]),
        "event_type": pa.array(etype),
        "value": pa.array(value[order]),
        "props": pa.array(props),
    }


def _affine_letters(g, copies):
    """One injective letter map per copy (copy 0 is the identity), drawn
    from the affine family x -> a*x + b mod 26 with a coprime to 26, without
    repeats: no two copies carry the same text."""
    coprimes = [1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25]
    family = [(a, b) for a in coprimes for b in range(26) if (a, b) != (1, 0)]
    picks = g.choice(len(family), size=copies - 1, replace=False)
    maps = [None]
    for i in picks:
        a, b = family[i]
        perm = [(a * x + b) % 26 for x in range(26)]
        src = string.ascii_lowercase + string.ascii_uppercase
        dst = "".join(string.ascii_lowercase[p] for p in perm) + \
            "".join(string.ascii_uppercase[p] for p in perm)
        maps.append(str.maketrans(src, dst))
    return maps


def documents(seed, n, copies):
    """`n` base documents of 10-90 words; about a fifth are near-duplicates
    (a few words substituted) of an earlier document and a few are exact
    copies, so exact, MinHash and span dedup all find work. The base set is
    then replicated `copies` times with a per-copy letter rotation, which
    keeps every within-copy near-duplicate and creates none across copies."""
    g = _rng(seed, "documents")
    texts = []
    for i in range(n):
        u = g.random()
        if i > 10 and u < 0.04:
            texts.append(texts[g.integers(0, i)])
        elif i > 10 and u < 0.22:
            words = texts[g.integers(0, i)].split()
            for j in g.integers(0, len(words), max(1, len(words) // 12)):
                words[j] = WORDS[g.integers(0, len(WORDS))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(np.array(WORDS)[g.integers(0, len(WORDS), g.integers(10, 90))]))
    langs = np.array(LANGS)[g.integers(0, len(LANGS), n)]
    sources = np.array([f"src{k}" for k in range(20)])[g.integers(0, 20, n)]
    maps = _affine_letters(g, copies)
    ids, out_t, out_l, out_s = [], [], [], []
    for k, m in enumerate(maps):
        ids.extend(range(k * n, (k + 1) * n))
        out_t.extend(texts if m is None else [t.translate(m) for t in texts])
        out_l.extend(langs)
        out_s.extend(sources)
    return {
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": pa.array(out_t),
        "lang": pa.array(out_l),
        "source": pa.array(out_s),
        "n_chars": pa.array([len(t) for t in out_t], type=pa.int64()),
    }


def embeddings(seed, n, copies, dim=64):
    """`n` unit vectors (a tenth are perturbed copies of an earlier one, so
    cosine dedup has true pairs), replicated `copies` times; copy k permutes
    the coordinates by i -> a_k*i + b_k mod dim with odd a_k, which keeps
    every norm and within-copy cosine exactly and adds no cross-copy pairs
    beyond the distribution's own tail."""
    g = _rng(seed, "embeddings")
    v = g.normal(0, 1, (n, dim))
    for i in range(10, n):
        if g.random() < 0.1:
            v[i] = v[g.integers(0, i)] + g.normal(0, 0.15, dim)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    labels = g.integers(0, 10, n).astype(np.int32)
    family = [(a, b) for a in range(1, dim, 2) for b in range(dim) if (a, b) != (1, 0)]
    picks = g.choice(len(family), size=copies - 1, replace=False)
    blocks, ids = [v], list(range(n))
    for k, i in enumerate(picks, start=1):
        a, b = family[i]
        idx = (a * np.arange(dim) + b) % dim
        blocks.append(v[:, idx])
        ids.extend(range(k * n, (k + 1) * n))
    allv = np.concatenate(blocks)
    return {
        "vec_id": pa.array(ids, type=pa.int64()),
        "embedding": pa.array(list(allv), type=pa.list_(pa.float32())),
        "label": pa.array(np.tile(labels, copies)),
    }


def star(seed, lineitem, orders, customers, parts, suppliers):
    """TPC-H-shaped star schema with the graded tables' columns and types."""
    g = _rng(seed, "star")
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    tables = {
        "region": {"r_regionkey": pa.array(range(5), type=pa.int32()),
                   "r_name": pa.array(regions)},
        "nation": {"n_nationkey": pa.array(range(25), type=pa.int32()),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32())},
    }
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    tables["customer"] = {
        "c_custkey": pa.array(np.arange(customers, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(customers)]),
        "c_nationkey": pa.array(g.integers(0, 25, customers).astype(np.int32)),
        "c_acctbal": pa.array(np.round(g.uniform(-999, 9999, customers), 2)),
        "c_mktsegment": pa.array(segs[g.integers(0, 5, customers)]),
    }
    tables["supplier"] = {
        "s_suppkey": pa.array(np.arange(suppliers, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(suppliers)]),
        "s_nationkey": pa.array(g.integers(0, 25, suppliers).astype(np.int32)),
        "s_acctbal": pa.array(np.round(g.uniform(-999, 9999, suppliers), 2)),
    }
    adj = np.array(["small", "red", "blue", "large", "green", "steel"])
    noun = np.array(["ring", "widget", "bolt", "gear", "pipe", "valve"])
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    tables["part"] = {
        "p_partkey": pa.array(np.arange(parts, dtype=np.int64)),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj[g.integers(0, 6, parts)],
                                                       noun[g.integers(0, 6, parts)])]),
        "p_brand": pa.array([f"Brand#{b}" for b in g.integers(1, 26, parts)]),
        "p_type": pa.array(types[g.integers(0, 6, parts)]),
        "p_size": pa.array(g.integers(1, 51, parts).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + np.arange(parts) * 0.1, 2)),
    }
    day = DAY_US
    y1995 = 788918400 * 1_000_000
    tables["orders"] = {
        "o_orderkey": pa.array(np.arange(orders, dtype=np.int64)),
        "o_custkey": pa.array(g.integers(0, customers, orders).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[g.integers(0, 3, orders)]),
        "o_totalprice": pa.array(np.round(g.uniform(1000, 500000, orders), 2)),
        "o_orderdate": _ts(y1995 + g.integers(0, 1500, orders) * day),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                              "5-LOW"])[g.integers(0, 5, orders)]),
    }
    okey = g.integers(0, orders, lineitem).astype(np.int64)
    # line numbers count up within each order, as in TPC-H
    order = np.argsort(okey, kind="stable")
    lineno = np.empty(lineitem, dtype=np.int32)
    first = np.r_[True, okey[order][1:] != okey[order][:-1]]
    run_start = np.maximum.accumulate(np.where(first, np.arange(lineitem), 0))
    lineno[order] = (np.arange(lineitem) - run_start + 1).astype(np.int32)
    qty = g.integers(1, 51, lineitem).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(g.integers(0, parts, lineitem).astype(np.int64)),
        "l_suppkey": pa.array(g.integers(0, suppliers, lineitem).astype(np.int64)),
        "l_linenumber": pa.array(lineno),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * g.uniform(900, 2100, lineitem), 2)),
        "l_discount": pa.array(np.round(g.integers(0, 11, lineitem) / 100.0, 2)),
        "l_tax": pa.array(np.round(g.integers(0, 9, lineitem) / 100.0, 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[g.integers(0, 3, lineitem)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[g.integers(0, 2, lineitem)]),
        "l_shipdate": _ts(y1995 + g.integers(0, 2500, lineitem) * day),
    }
    return tables


def generate(workload, seed, out):
    """Write every table for `workload` at `seed` into `out`; returns the
    shapes (see `shapes`)."""
    z = SIZES[workload]
    os.makedirs(out, exist_ok=True)
    _write(out, "events", events(seed, z["records"], z["samples"]))
    _write(out, "documents", documents(seed, z["docs"], z["doc_copies"]))
    _write(out, "embeddings", embeddings(seed, z["vecs"], z["vec_copies"]))
    for name, cols in star(seed, z["lineitem"], z["orders"], z["customers"],
                           z["parts"], z["suppliers"]).items():
        _write(out, name, cols)
    return shapes(workload)


def shapes(workload):
    """Row counts per table and the signal-record shape of `workload`."""
    z = SIZES[workload]
    return {
        "events": z["records"] * z["samples"],
        "records": z["records"],
        "samples_per_record": z["samples"],
        "documents": z["docs"] * z["doc_copies"],
        "embeddings": z["vecs"] * z["vec_copies"],
        "lineitem": z["lineitem"],
        "orders": z["orders"],
    }
