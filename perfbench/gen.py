"""Seeded input generator for the benchmark.

Writes the ten fixture tables the engine's queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings), one parquet file each, with the schemas and value
distributions of the engine's sf-scaled fixtures: uniform keys and
measures, monetary values rounded to cents, a 30-word vocabulary for
document text with about 5% near-duplicate documents, and unit-norm
64-dimensional embeddings.

`replicate` then builds the key-shifted replication the engine's own
scale probe uses: fact tables repeat with their keys shifted by
1e8 * copy, dimension tables stay fixed, every document copy gets a
` replica<i>` token appended and every embedding copy a small exact
perturbation, so the copies form near-duplicate clusters.

The same (seed, sf, mult) always gives byte-identical values.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SHIFT = 100_000_000
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
DAY_US = 86_400_000_000


def _ts(base_days, days):
    """Microsecond timestamps from days since 1970-01-01."""
    return pa.array((base_days + days).astype("int64") * DAY_US, pa.timestamp("us"))


def _days(y, m, d):
    return int((np.datetime64(f"{y:04d}-{m:02d}-{d:02d}") - np.datetime64("1970-01-01")).astype(int))


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(seed, sf):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)})
    adj = np.array("blue old small new large hot cold red".split())
    noun = np.array("widget gizmo ring gear bolt plate rod anvil".split())
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype="int64")
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1)})
    d95 = _days(1995, 1, 1)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(d95, rng.integers(0, _days(2001, 8, 1) - d95 + 1, n_ord)),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _cents(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_days(1995, 1, 2), rng.integers(0, _days(2001, 11, 4) - _days(1995, 1, 2) + 1, n_li))})
    ts0 = _days(2024, 1, 1) * DAY_US
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + ts0
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_ev),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}")})
    texts = []
    vocab = np.array(VOCAB)
    for i in range(n_doc):
        r = rng.random()
        if i > 20 and r < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 20 and r < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64")})
    emb = rng.normal(0.0, 1.0, (n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype("int32")})
    return t


def _shift(tab, key, i):
    idx = tab.schema.get_field_index(key)
    return tab.set_column(idx, key, pa.array(tab[key].to_numpy() + i * SHIFT))


def replicate(base, mult):
    """Key-shifted replication: facts repeat `mult` times, dims stay."""
    if mult == 1:
        return base
    out = dict(base)
    for name, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey"),
                      ("events", "event_id")):
        out[name] = pa.concat_tables([_shift(base[name], key, i) for i in range(mult)])
    docs = [base["documents"]]
    for i in range(1, mult):
        d = _shift(base["documents"], "doc_id", i)
        text = [x + f" replica{i}" for x in base["documents"]["text"].to_pylist()]
        d = d.set_column(d.schema.get_field_index("text"), "text", pa.array(text))
        d = d.set_column(d.schema.get_field_index("n_chars"), "n_chars",
                         pa.array([len(x) for x in text], pa.int64()))
        docs.append(d)
    out["documents"] = pa.concat_tables(docs)
    emb = base["embeddings"]
    vid = emb["vec_id"].to_numpy()
    vecs = np.stack(emb["embedding"].to_numpy(zero_copy_only=False)).astype("float64")
    j = np.arange(vecs.shape[1])
    parts = [emb]
    for i in range(1, mult):
        eps = 0.001 * i * (((vid[:, None] + j[None, :]) % 5).astype("float64") - 2.0)
        parts.append(pa.table({
            "vec_id": vid + i * SHIFT,
            "embedding": pa.array(list((vecs + eps).astype("float32")), pa.list_(pa.float32())),
            "label": emb["label"]}))
    out["embeddings"] = pa.concat_tables(parts)
    return out


def write(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


def table_bytes(out_dir):
    return {f[:-8]: os.path.getsize(os.path.join(out_dir, f))
            for f in sorted(os.listdir(out_dir)) if f.endswith(".parquet")}
