"""Seeded input generator for the benchmark workloads.

Every table is first built over key *indexes* from one fixed content
stream, so all seeds share the same rows; the seed then (1) relabels each
key domain by a permutation of its label set, applied to every foreign-key
column of that domain, and (2) shuffles the row order of every table.
Two seeds therefore give the same row multiset up to relabelling (timings
stay comparable across seeds) while hash partitioning, join build sides
and the order rows arrive in all change with the seed.

Schemas and value domains follow the fixture tables the queries were
written against (FIXTURES.md at the repo root).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 20240101  # fixed: the seed only relabels and reorders

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
EVENT_TYPES = np.array(["click", "purchase", "error", "signup", "view"])
P_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                    "STANDARD"])
COLORS = "red blue green black white small hot cold".split()
NOUNS = "ring widget bolt gear gizmo nut spring valve".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# table -> {key column: key domain}; domains are shared across tables
KEYS = {
    "region": {},
    "nation": {},
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "ord", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "ord", "l_partkey": "part",
                 "l_suppkey": "supp"},
    "events": {"user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}

# Workload sizes. llm: corpus sizes; maintain: keyed-table sizes and
# change-log shape.
LLM = {"sf": 0.01, "docs": 1000, "vecs": 1000, "near_dup_frac": 0.1}
MAINTAIN = {"sf": 0.01, "customers": 8000, "orders": 24000, "batches": 3,
            "touch_frac": 1 / 16, "replays": 1}

DAY_US = 86_400_000_000


def _days_us(start, n_days, g, n):
    base = np.datetime64(start, "us").astype(np.int64)
    return base + g.integers(0, n_days + 1, n) * DAY_US


def _ts(a):
    return pa.array(a, type=pa.timestamp("us"))


def base_tables(sf, n_docs=None, n_vecs=None, near_dup_frac=0.1):
    """The seed-independent tables over key indexes at scale factor sf."""
    g = np.random.Generator(np.random.PCG64(CONTENT_SEED))
    n_supp = max(10, int(10_000 * sf))
    n_cust = max(150, int(150_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_evt = max(1000, int(1_000_000 * sf))
    n_users = max(10, n_cust // 10)
    n_docs = n_docs or max(500, int(50_000 * sf))
    n_vecs = n_vecs or max(500, int(20_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(g.uniform(-999.99, 9999.99, n_supp), 2)})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(g.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": SEGMENTS[g.integers(0, 5, n_cust)]})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(g.integers(0, 8, n_part), g.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n_part)],
        "p_type": P_TYPES[g.integers(0, 6, n_part)],
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": g.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[g.integers(0, 3, n_ord)],
        "o_totalprice": np.round(g.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts(_days_us("1995-01-01", 2404, g, n_ord)),
        "o_orderpriority": PRIORITIES[g.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": g.integers(0, n_ord, n_line),
        "l_partkey": g.integers(0, n_part, n_line),
        "l_suppkey": g.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(g.integers(1, 8, n_line), pa.int32()),
        "l_quantity": g.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(g.uniform(900, 105_000, n_line), 2),
        "l_discount": g.integers(0, 11, n_line) / 100.0,
        "l_tax": g.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[g.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[g.integers(0, 2, n_line)],
        "l_shipdate": _ts(_days_us("1995-01-02", 2498, g, n_line))})
    # events: dense 30-day stream, event_id in ts order
    gaps = g.exponential(2_592_000 / n_evt, n_evt) * 1e6
    ts = np.datetime64("2024-01-01", "us").astype(np.int64) + \
        np.cumsum(gaps).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": g.integers(0, n_users, n_evt),
        "event_type": EVENT_TYPES[g.integers(0, 5, n_evt)],
        "value": np.maximum(np.round(g.exponential(50, n_evt), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_evt)]})
    t["documents"] = _documents(g, n_docs, near_dup_frac)
    emb = g.standard_normal((n_vecs, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(emb.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(g.integers(0, 10, n_vecs), pa.int32())})
    return t


def _documents(g, n, near_dup_frac):
    """Word-salad documents; a fraction are near-duplicate edits of an
    earlier document (1-3 substituted words plus one inserted token)."""
    words = np.array(WORDS)
    texts = []
    n_dup = int(n * near_dup_frac)
    for i in range(n):
        if i >= n - n_dup:
            src = texts[int(g.integers(0, n - n_dup))].split()
            for _ in range(int(g.integers(1, 4))):
                src[int(g.integers(0, len(src)))] = words[g.integers(0, 30)]
            src.insert(int(g.integers(0, len(src) + 1)), "dup")
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(words[g.integers(0, 30,
                                                   g.integers(10, 101))]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": LANGS[g.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})


def relabel(tabs, seed, keys=KEYS):
    """Apply one seeded permutation per key domain (over the domain's
    label set, so every key-range predicate keeps its cardinality) and a
    seeded row shuffle per table."""
    rng = np.random.Generator(np.random.PCG64(seed))
    labels = {}
    for name in sorted(keys):
        for c, dom in sorted(keys[name].items()):
            labels.setdefault(dom, set()).update(
                np.unique(tabs[name].column(c).to_numpy()).tolist())
    perm = {}
    for dom in sorted(labels):
        src = np.array(sorted(labels[dom]), dtype=np.int64)
        perm[dom] = (src, src[rng.permutation(len(src))])
    out = {}
    for name in sorted(tabs):
        tab = tabs[name]
        for c, dom in keys.get(name, {}).items():
            src, dst = perm[dom]
            v = dst[np.searchsorted(src, tab.column(c).to_numpy())]
            tab = tab.set_column(tab.column_names.index(c), c,
                                 pa.array(v, tab.schema.field(c).type))
        out[name] = tab.take(pa.array(rng.permutation(tab.num_rows)))
    return out


def maintain_log(seed):
    """Change log for table_maintain, relabelled like the tables.

    upsert batches: rows (user_id, ts, event_id, acctbal, mktsegment,
    nationkey) keyed by user_id; batch 0 loads every customer, each later
    batch touches ~touch_frac of the keys, some twice (the in-batch
    latest-per-key reduce picks the later ts). cdc batches: orders rows
    with seq/op; batch 0 inserts every order, later batches update,
    delete and (re-)insert ~touch_frac of the keys.
    """
    m = MAINTAIN
    g = np.random.Generator(np.random.PCG64(CONTENT_SEED + 1))
    nc, no, nb = m["customers"], m["orders"], m["batches"]
    touch_c, touch_o = int(nc * m["touch_frac"]), int(no * m["touch_frac"])
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ups, cdc = [], []
    eid, seq = 0, 0
    live = np.zeros(no + no // 8, dtype=bool)  # key index space incl. new keys
    for b in range(nb + 1):
        if b == 0:
            ck = np.arange(nc)
        else:
            ck = g.choice(nc, touch_c, replace=False)
            ck = np.concatenate([ck, ck[: touch_c // 8]])  # in-batch repeats
        n = len(ck)
        ups.append(pa.table({
            "user_id": ck.astype(np.int64),
            "ts": _ts(t0 + b * 3_600_000_000 + g.permutation(n) * 1_000_000),
            "event_id": np.arange(eid, eid + n, dtype=np.int64),
            "acctbal": np.round(g.uniform(-999.99, 9999.99, n), 2),
            "mktsegment": SEGMENTS[g.integers(0, 5, n)],
            "nationkey": pa.array(g.integers(0, 25, n), pa.int32())}))
        eid += n
        if b == 0:
            ok = np.arange(no)
            ops = np.array(["I"] * no)
        else:
            ok = g.choice(len(live), touch_o, replace=False)
            ops = np.where(live[ok],
                           np.where(g.random(touch_o) < 0.2, "D", "U"), "I")
        live[ok] = ops != "D"
        n = len(ok)
        cdc.append(pa.table({
            "o_orderkey": ok.astype(np.int64),
            "o_custkey": g.integers(0, nc, n),
            "o_totalprice": np.round(g.uniform(1000, 500_000, n), 2),
            "o_orderstatus": np.array(["F", "O", "P"])[g.integers(0, 3, n)],
            "o_orderpriority": PRIORITIES[g.integers(0, 5, n)],
            "seq": np.arange(seq, seq + n, dtype=np.int64) + 1,
            "op": ops}))
        seq += n
    # replays: re-apply an already-committed batch id after batch `at`
    replays = [{"at": int(a), "batch": int(g.integers(1, a + 1))}
               for a in sorted(g.choice(np.arange(1, nb + 1), m["replays"],
                                        replace=False))]
    keys = {}
    for b in range(nb + 1):
        keys[f"upsert_{b}"] = {"user_id": "cust"}
        keys[f"cdc_{b}"] = {"o_orderkey": "ord", "o_custkey": "cust"}
    named = {f"upsert_{b}": t for b, t in enumerate(ups)}
    named.update({f"cdc_{b}": t for b, t in enumerate(cdc)})
    # cust labels: the customer key space, ord labels: the order key space
    named["_cust"] = pa.table({"k": np.arange(nc, dtype=np.int64)})
    named["_ord"] = pa.table({"k": np.arange(len(live), dtype=np.int64)})
    keys["_cust"] = {"k": "cust"}
    keys["_ord"] = {"k": "ord"}
    rel = relabel(named, seed, keys)
    # row order inside a batch is shuffled by relabel; the reads' order
    # contract (ts, event_id / seq) does not depend on it
    return ([rel[f"upsert_{b}"] for b in range(nb + 1)],
            [rel[f"cdc_{b}"] for b in range(nb + 1)], replays)


def write_tables(tabs, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tabs.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))


def generate(workload, seed, out_dir):
    """Write every input of `workload` for `seed` under out_dir."""
    if workload == "llm_dataprep":
        tabs = base_tables(LLM["sf"], LLM["docs"], LLM["vecs"],
                           LLM["near_dup_frac"])
    elif workload == "table_maintain":
        tabs = base_tables(MAINTAIN["sf"])
    else:
        raise ValueError(f"unknown workload {workload!r}")
    write_tables(relabel(tabs, seed), out_dir)
    if workload == "table_maintain":
        ups, cdc, replays = maintain_log(seed)
        log_dir = os.path.join(out_dir, "changes")
        write_tables({f"upsert_{b}": t for b, t in enumerate(ups)}, log_dir)
        write_tables({f"cdc_{b}": t for b, t in enumerate(cdc)}, log_dir)
        with open(os.path.join(log_dir, "manifest.json"), "w") as f:
            json.dump({"batches": len(ups) - 1, "replays": replays}, f)
