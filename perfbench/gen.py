"""Seeded input generators for the graft benchmark.

Every generator takes a numpy Generator built from the run's --seed, so
the same seed always yields byte-identical inputs. Sizes are fixed per
workload (see SIZES); only the content varies with the seed.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    # letter_index: many small text files behind one manifest
    "letter_files": 100,
    "letter_median_bytes": 2400,
    "letter_empty_files": 4,
    # relational tables (TPC-H shaped, ~sf0.01)
    "customers": 1500,
    "suppliers": 100,
    "parts": 2000,
    "orders": 15000,
    "lineitems": 60000,
    # documents / embeddings shared by llm_ops and curated_ingest
    "base_docs": 1200,  # llm_ops; curated_ingest sizes its own below
    "base_vecs": 800,
    "dup_share": 0.2,   # share of final rows that are near-dup copies
    # curated_ingest: warm-up is batches [0, 3), the untraced window
    # batches [3, 11); posting compaction folds every 16th committed
    # batch, so the traced run's 34 batches hold two compactions
    "ingest_batch_docs": 48,
    "ingest_batches": 34,
    "ingest_warmup_batches": 3,
    "ingest_window_batches": 8,
}

_SYLL = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "be", "da",
         "fe", "gi", "ho", "ju", "pe", "qu", "wa", "xe", "yo", "ze",
         "an", "el", "is", "or", "um", "st", "tr", "ch", "sh", "th"]
_NONASCII = ["é", "ü", "ñ", "ß", "’", "—",
             "中", "ç"]


def _vocab(rng, n):
    """n distinct lowercase pseudo-words of 1-4 syllables."""
    words, seen = [], set()
    while len(words) < n:
        k = int(rng.integers(1, 5))
        w = "".join(_SYLL[i] for i in rng.integers(0, len(_SYLL), k))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_ids(rng, n_vocab, size, s=1.1):
    """Zipf-distributed ranks in [0, n_vocab)."""
    ranks = np.arange(1, n_vocab + 1, dtype=np.float64)
    p = ranks ** -s
    p /= p.sum()
    return rng.choice(n_vocab, size=size, p=p)


def _noisy_token(rng, w):
    """Token noise the reference normalizer must strip: case, punctuation,
    apostrophes, digits and non-ASCII characters."""
    r = rng.random()
    if r < 0.10:
        w = w.capitalize()
    elif r < 0.13:
        w = w.upper()
    r = rng.random()
    if r < 0.06:
        w += rng.choice([".", ",", ";", "!", "?", ":"])
    elif r < 0.08:
        i = int(rng.integers(1, len(w))) if len(w) > 1 else 1
        w = w[:i] + "'" + w[i:]
    elif r < 0.10:
        w = w + str(int(rng.integers(0, 100)))
    elif r < 0.11:
        i = int(rng.integers(0, len(w) + 1))
        w = w[:i] + rng.choice(_NONASCII) + w[i:]
    elif r < 0.115:
        w = str(int(rng.integers(0, 10000)))  # normalizes to empty
    elif r < 0.12:
        w = w + "-" + w
    return w


def letter_corpus(rng, root):
    """Text files + reference-format manifest (count, then paths relative
    to the manifest). Returns (manifest path, stats)."""
    n = SIZES["letter_files"]
    vocab = _vocab(rng, 6000)
    os.makedirs(os.path.join(root, "files"), exist_ok=True)
    sizes = np.exp(rng.normal(np.log(SIZES["letter_median_bytes"]), 0.8, n))
    empty = set(rng.choice(n, SIZES["letter_empty_files"], replace=False)
                .tolist())
    rel, total = [], 0
    for i in range(n):
        name = f"files/doc{i:05d}.txt"
        rel.append(name)
        if i in empty:
            data = b""
        else:
            target = int(max(20, min(sizes[i], 40000)))
            ids = _zipf_ids(rng, len(vocab), target // 5 + 1)
            toks = [_noisy_token(rng, vocab[j]) for j in ids]
            seps = rng.choice([" ", " ", " ", " ", " ", "  ", "\t", "\n"],
                              len(toks))
            text = "".join(t + s for t, s in zip(toks, seps))
            if rng.random() < 0.1:
                text = text.replace("\n", "\r\n")
            data = text.encode("utf-8")
        with open(os.path.join(root, name), "wb") as f:
            f.write(data)
        total += len(data)
    manifest = os.path.join(root, "manifest.txt")
    with open(manifest, "w") as f:
        f.write(f"{n}\n" + "".join(p + "\n" for p in rel))
    return manifest, {"files": n, "empty_files": len(empty),
                      "input_bytes": total}


def _write(table, root, name):
    pq.write_table(table, os.path.join(root, f"{name}.parquet"))


def _days(rng, start, end, size):
    span = (end - start).days
    d = rng.integers(0, span + 1, size)
    base = np.datetime64(start.isoformat(), "us")
    return base + d.astype("timedelta64[D]").astype("timedelta64[us]")


def tpch_tables(rng, root):
    """The seven TPC-H shaped tables, with the column names and types the
    graft relational queries read."""
    os.makedirs(root, exist_ok=True)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": regions}), root, "region")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)],
                                             pa.int32())}), root, "nation")
    nc, ns, npart = SIZES["customers"], SIZES["suppliers"], SIZES["parts"]
    no, nl = SIZES["orders"], SIZES["lineitems"]
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": segs[rng.integers(0, 5, nc)]}), root, "customer")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)}),
        root, "supplier")
    adj = np.array(["red", "green", "blue", "cold", "hot", "new", "large",
                    "small"])
    noun = np.array(["anvil", "bolt", "gear", "ring", "rod", "widget",
                     "spring", "valve"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    _write(pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, npart)],
                                          " "),
                              noun[rng.integers(0, 8, npart)]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": types[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 1000, npart), 1)}),
        root, "part")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1),
                             no),
        "o_orderpriority": prio[rng.integers(0, 5, no)]}), root, "orders")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4),
                            nl)}), root, "lineitem")
    return {"lineitem_rows": nl, "orders_rows": no, "customer_rows": nc,
            "part_rows": npart, "supplier_rows": ns}


def _dup_count(n_base):
    """Copies needed so that they make up dup_share of the final rows."""
    share = SIZES["dup_share"]
    return int(round(n_base * share / (1.0 - share)))


def documents(rng, root, nb):
    """documents + embeddings: nb base documents plus near-duplicate
    copies (fresh higher ids, 1-3 word edits / small vector noise) at
    SIZES['dup_share'] of the final rows."""
    os.makedirs(root, exist_ok=True)
    vocab = _vocab(rng, 800)
    lens = np.clip(np.exp(rng.normal(np.log(40), 0.7, nb)), 4, 250)
    texts = []
    for n in lens.astype(int):
        texts.append(" ".join(vocab[j] for j in _zipf_ids(rng, len(vocab), n)))
    nd = _dup_count(nb)
    src = rng.choice(nb, nd, replace=True)
    for s in src:
        ws = texts[s].split(" ")
        for _ in range(int(rng.integers(1, 4))):
            i = int(rng.integers(0, len(ws)))
            ws[i] = vocab[int(rng.integers(0, len(vocab)))]
        texts.append(" ".join(ws))
    n = len(texts)
    langs = np.array(["en", "en", "de", "fr", "es", "zh"])
    lang = langs[rng.integers(0, len(langs), n)]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": lang,
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    _write(docs, root, "documents")

    nv, dim = SIZES["base_vecs"], 64
    centers = rng.normal(0, 1, (10, dim))
    label = rng.integers(0, 10, nv)
    vec = centers[label] + rng.normal(0, 0.9, (nv, dim))
    nvd = _dup_count(nv)
    vsrc = rng.choice(nv, nvd, replace=True)
    vec = np.vstack([vec, vec[vsrc] + rng.normal(0, 0.02, (nvd, dim))])
    label = np.concatenate([label, label[vsrc]])
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(len(vec)), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    _write(emb, root, "embeddings")
    text_bytes = sum(len(t.encode("utf-8")) for t in texts)
    return {"docs": n, "dup_docs": nd, "vecs": len(vec), "dup_vecs": nvd,
            "dup_share": SIZES["dup_share"], "input_bytes": text_bytes}


def ingest_split():
    """curated_ingest's batch split: the documents arrive in id order in
    micro-batches of SIZES['ingest_batch_docs']; base_docs is chosen so
    that base rows plus copies fill SIZES['ingest_batches'] of them (the
    last may be short). The first warmup_batches are warm-up, the next
    window_batches are timed."""
    docs = SIZES["ingest_batch_docs"] * SIZES["ingest_batches"]
    return {"base_docs": int(round(docs * (1.0 - SIZES["dup_share"]))),
            "batch_docs": SIZES["ingest_batch_docs"],
            "batches": SIZES["ingest_batches"],
            "warmup_batches": SIZES["ingest_warmup_batches"],
            "window_batches": SIZES["ingest_window_batches"]}
