"""Seeded input generation for the benchmark.

Every table is synthesized from ``numpy.random.default_rng(seed)``: the
seed drives the key shift, the payload rotation of the document text,
the planted near-duplicate pairs and (through ``rng_for``) every query
constant.  The generator writes parquet under the checkout's work
directory and caches it per (seed, size), so a second run with the same
seed reads the files instead of regenerating them.

Sizes are multiples of a TPC-H-like ``sf0.01`` base (60k lineitem rows).
The schemas match the repository's test tables, so the same operators
run over them unchanged.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table at scale 1 (a TPC-H sf0.01-like star schema)
BASE_ROWS = {"customer": 1500, "supplier": 100, "part": 2000,
             "orders": 15000, "events": 10000}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "error", "signup"]
LANGS = ["en", "de", "es", "fr", "zh"]
P_TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL"]
P_NAMES = ["small ring", "red widget", "blue gear", "steel bolt",
           "green lamp", "brass pipe", "tiny spring", "large frame"]
EPOCH_1992 = np.datetime64("1992-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000
EMB_DIM = 32


def rng_for(seed: int, *tags) -> np.random.Generator:
    """A generator derived from the seed and a tag path, so each
    consumer (a table, a workload's constants) gets its own stream and
    adding a consumer does not shift the others."""
    words = [int(seed)] + [int.from_bytes(
        hashlib.blake2b(str(t).encode(), digest_size=4).digest(), "little")
        for t in tags]
    return np.random.default_rng(words)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=1 << 20)


def _ts(base, offsets_us) -> pa.Array:
    return pa.array((base + offsets_us.astype("timedelta64[us]")),
                    type=pa.timestamp("us"))


def tpch_tables(seed: int, scale: float, out_dir: str) -> dict:
    """region, nation, customer, supplier, part, orders, lineitem and
    events.  Keys are shifted by a seed-derived offset; lineitem has
    1 to 7 lines per order (4 on average)."""
    rng = rng_for(seed, "tpch")
    n = {k: max(int(v * scale), 5) for k, v in BASE_ROWS.items()}
    shift = int(rng.integers(0, 1_000_000)) * 10
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    ck = shift + np.arange(n["customer"], dtype=np.int64)
    tables["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, ck.size), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, ck.size), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, ck.size)]})
    sk = shift + np.arange(n["supplier"], dtype=np.int64)
    tables["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, sk.size), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, sk.size), 2)})
    pk = shift + np.arange(n["part"], dtype=np.int64)
    tables["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.array(P_NAMES)[rng.integers(0, len(P_NAMES), pk.size)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, pk.size)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 5, pk.size)],
        "p_size": pa.array(rng.integers(1, 51, pk.size), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 2)})
    ok = shift + np.arange(n["orders"], dtype=np.int64)
    odate = rng.integers(0, 2400, ok.size) * DAY_US
    tables["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.choice(ck, ok.size),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, ok.size)],
        "o_totalprice": np.round(rng.uniform(900, 500_000, ok.size), 2),
        "o_orderdate": _ts(EPOCH_1992, odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, ok.size)]})
    lines = rng.integers(1, 8, ok.size)
    lk = np.repeat(ok, lines)
    nl = lk.size
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, nl) * DAY_US
    tables["lineitem"] = pa.table({
        "l_orderkey": lk,
        "l_partkey": rng.choice(pk, nl),
        "l_suppkey": rng.choice(sk, nl),
        "l_linenumber": pa.array(np.concatenate(
            [np.arange(1, k + 1) for k in lines]), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(EPOCH_1992, ship)})
    ne = n["events"]
    n_users = max(ne // 60, 5)
    tables["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(EPOCH_2024, np.sort(rng.integers(0, 30 * DAY_US, ne))),
        "user_id": shift + rng.integers(0, n_users, ne),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(40.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _vocab(rng, size: int) -> np.ndarray:
    """Pronounceable-ish words over a seed-rotated alphabet (the payload
    rotation: another seed gives other words with the same length
    distribution)."""
    letters = np.array(list(string.ascii_lowercase))
    letters = np.roll(letters, int(rng.integers(0, 26)))
    lens = rng.integers(3, 9, size)
    words = {"".join(letters[rng.integers(0, 26, k)]) for k in lens}
    return np.array(sorted(words))


def _mutate(rng, toks: np.ndarray, vocab: np.ndarray, frac: float) -> np.ndarray:
    out = toks.copy()
    k = max(1, int(len(out) * frac))
    pos = rng.choice(len(out), k, replace=False)
    out[pos] = vocab[rng.integers(0, vocab.size, k)]
    return out


def doc_tables(seed: int, n_docs: int, n_vecs: int, out_dir: str,
               dup_frac: float = 0.1) -> dict:
    """documents (doc_id, text, lang, source, n_chars) and embeddings
    (vec_id, embedding, label) with planted near-duplicates.

    A ``dup_frac`` share of docs (and of vectors) are edited copies of
    an earlier original: 3% of tokens replaced (shingle Jaccard well
    above 0.5), or Gaussian noise of 0.02 per dimension (cosine above
    0.95).  The planted (original, copy) pairs are written to
    ``planted_docs.json`` / ``planted_vecs.json`` for the recall check.
    Every fifth document carries the same 24-token boilerplate passage,
    as crawled pages do."""
    rng = rng_for(seed, "docs")
    vocab = _vocab(rng, 3000)
    shift = int(rng.integers(0, 1_000_000)) * 10
    boiler = vocab[rng.integers(0, vocab.size, 24)]
    texts, planted = [], []
    n_orig = n_docs - int(n_docs * dup_frac)
    for i in range(n_docs):
        if i < n_orig:
            toks = vocab[rng.integers(0, vocab.size, rng.integers(40, 120))]
            if i % 5 == 0:
                cut = int(rng.integers(0, len(toks)))
                toks = np.concatenate([toks[:cut], boiler, toks[cut:]])
        else:
            src = int(rng.integers(0, n_orig))
            toks = _mutate(rng, texts[src], vocab, 0.03)
            planted.append([shift + src, shift + i])
        texts.append(toks)
    strs = [" ".join(t) for t in texts]
    docs = pa.table({
        "doc_id": shift + np.arange(n_docs, dtype=np.int64),
        "text": strs,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_docs)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(s) for s in strs], dtype=np.int64)})
    _write(docs, os.path.join(out_dir, "documents.parquet"))

    vrng = rng_for(seed, "vecs")
    n_vorig = n_vecs - int(n_vecs * dup_frac)
    centers = vrng.normal(size=(16, EMB_DIM))
    labels = vrng.integers(0, 16, n_vecs)
    vecs = centers[labels] + vrng.normal(scale=0.8, size=(n_vecs, EMB_DIM))
    vplanted = []
    for j in range(n_vorig, n_vecs):
        src = int(vrng.integers(0, n_vorig))
        vecs[j] = vecs[src] + vrng.normal(scale=0.02, size=EMB_DIM)
        labels[j] = labels[src]
        vplanted.append([shift + src, shift + j])
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": shift + np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    _write(emb, os.path.join(out_dir, "embeddings.parquet"))
    with open(os.path.join(out_dir, "planted_docs.json"), "w") as fh:
        json.dump(planted, fh)
    with open(os.path.join(out_dir, "planted_vecs.json"), "w") as fh:
        json.dump(vplanted, fh)
    return {"documents": n_docs, "embeddings": n_vecs}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def ensure_inputs(cache_root: str, seed: int, kind: str, **size) -> dict:
    """Generate (or reuse) one input set.  Returns a manifest with the
    directory, the row count of each table and the bytes on disk."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    out_dir = os.path.join(cache_root, f"{kind}-{tag}-seed{seed}")
    manifest_path = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            return json.load(fh)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rows = {}
    if kind in ("tpch", "batch"):
        rows.update(tpch_tables(seed, size["scale"], tmp))
    if kind in ("docs", "batch"):
        rows.update(doc_tables(seed, size["docs"], size["vecs"], tmp))
    if not rows:
        raise ValueError(f"unknown input kind {kind!r}")
    manifest = {"dir": out_dir, "rows": rows, "bytes": dir_bytes(tmp),
                "seed": seed, "size": size}
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return manifest
