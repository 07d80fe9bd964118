"""Seeded input generator for the benchmark.

Writes parquet inputs and the planted truth beside them (``truth.json``).
The same seed always gives the same bytes. Table shapes, row counts and
column types are fixed per size profile; the seed only changes values, so
the amount of work per run does not depend on the seed.

Input sets:

* data lakes (``index_lake/``, ``search_lake/``): tables from four schema
  families whose column mix follows LakeBench (about 55% string, 15% int,
  20% float, 10% date), with nullable cells and shared key domains
  planted across tables, so some column pairs are joinable and tables of
  a family are unionable;
* an embeddings table (``search_lake/embeddings.parquet``) with planted
  near neighbours for the first query vectors;
* a document corpus (``corpus/``): a base corpus plus fixed-size arriving
  batches, 20% of each batch planted near-copies (word 3-gram Jaccard
  >= 0.9) or exact copies of earlier documents.

Usage: python3 perfbench/gen.py --seed 7 --out /tmp/bench_inputs [--size tiny]
"""

from __future__ import annotations

import argparse
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# (column, type, domain) per schema family. Domains shared across tables
# plant joinable pairs; sharing a family plants unionable tables.
FAMILIES: dict[str, list[tuple[str, str, str]]] = {
    "sales": [
        ("sku", "string", "sku"),
        ("city", "string", "city"),
        ("cust_id", "int", "cust"),
        ("amount", "float", "money"),
        ("sold_on", "date", "date"),
    ],
    "customer": [
        ("cust_name", "string", "person"),
        ("city", "string", "city"),
        ("email", "string", "email"),
        ("cust_id", "int", "cust"),
        ("balance", "float", "money"),
    ],
    "product": [
        ("sku", "string", "sku"),
        ("descr", "string", "words"),
        ("category", "string", "category"),
        ("price", "float", "money"),
        ("weight", "float", "weight"),
    ],
    "review": [
        ("sku", "string", "sku"),
        ("review", "string", "words"),
        ("reviewer", "string", "person"),
        ("stars", "int", "stars"),
        ("posted", "date", "date"),
        ("score", "float", "weight"),
    ],
}
FAMILY_ORDER = ["sales", "customer", "product", "review"]

# Shared key domains: each column samples a seeded window of the pool,
# so overlap (and hence Jaccard) between two tables varies by seed while
# the pool sizes stay fixed.
POOL_SIZES = {"sku": 6000, "city": 400, "cust": 8000, "person": 5000, "category": 24}
NULL_RATE = 0.05

# Row counts per size profile, one per table, in family round-robin order.
# The index lake has a long tail: mostly <= 5k rows, two tables >= 100k.
LAKE_ROWS = {
    "index": [25, 300, 600, 900, 1200, 1600, 2000, 2500, 3000, 4000, 100_000, 150_000],
    "search": [40, 600, 1500, 3000],
    "tiny": [25, 60, 90, 120],
}
EMB_ROWS = {"search": 1500, "tiny": 120}
EMB_DIM = 64
EMB_QUERY_IDS = 8  # vectors 0..7 are query vectors with planted neighbours

CORPUS = {
    # (base docs, batch size, batches)
    "full": (2000, 200, 20),
    "tiny": (60, 20, 10),
}
DUP_SHARE = 0.2
EXACT_SHARE = 0.25  # of the planted copies, this share is an exact copy
MIN_JACCARD = 0.9
SHINGLE_N = 3

STOP = ["the", "a", "of", "and", "to", "in", "is"]
SYLLABLES = [
    "ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve", "da", "zu", "fi",
    "go", "ha", "ju", "ke", "ly", "mo", "nu", "pa", "qu", "ro", "si", "te",
]


@dataclass
class Vocab:
    words: list[str]
    cdf: np.ndarray

    @classmethod
    def build(cls, rng: np.random.Generator, n: int = 3000) -> "Vocab":
        words: set[str] = set()
        while len(words) < n:
            k = int(rng.integers(2, 5))
            words.add("".join(SYLLABLES[i] for i in rng.integers(0, len(SYLLABLES), k)))
        ranked = sorted(words)
        rng.shuffle(ranked)
        p = 1.0 / np.arange(1, n + 1) ** 0.8  # Zipf-like word frequencies
        cdf = np.cumsum(p / p.sum())
        cdf[-1] = 1.0
        return cls(ranked, cdf)

    def sample(self, rng: np.random.Generator, k: int) -> list[str]:
        return [self.words[i] for i in np.searchsorted(self.cdf, rng.random(k), side="right")]


def _pool(domain: str, size: int, vocab: Vocab) -> list:
    if domain == "sku":
        return [f"SKU-{i:05d}" for i in range(size)]
    if domain == "cust":
        return list(range(1, size + 1))
    if domain == "category":
        return [f"cat_{w}" for w in vocab.words[:size]]
    if domain == "city":
        return [f"{a.title()} {b}" for a, b in zip(vocab.words[100 : 100 + size], vocab.words[600 : 600 + size])]
    # person
    firsts, lasts = vocab.words[1000:1100], vocab.words[1100:1150]
    return [f"{firsts[i % 100].title()} {lasts[i // 100 % 50].title()}" for i in range(size)]


def _column(dom: str, n: int, rng: np.random.Generator, vocab: Vocab, pools: dict) -> tuple[list, set]:
    """Values of one column plus, for key domains, the window it drew from."""
    if dom in POOL_SIZES:
        pool = pools[dom]
        frac = float(rng.uniform(0.3, 0.9))
        width = max(2, int(len(pool) * frac))
        start = int(rng.integers(0, len(pool)))
        window = [pool[(start + i) % len(pool)] for i in range(width)]
        vals = [window[i] for i in rng.integers(0, width, n)]
    elif dom == "email":
        vals = [f"user{int(x)}@{vocab.words[int(x) % 50]}.example" for x in rng.integers(0, 10**7, n)]
    elif dom == "words":
        lens = rng.integers(3, 9, n)
        toks = vocab.sample(rng, int(lens.sum()))
        ends = np.cumsum(lens)
        vals = [" ".join(toks[e - k : e]) for e, k in zip(ends, lens)]
    elif dom == "money":
        vals = [round(float(x), 2) for x in rng.lognormal(4.0, 1.2, n).clip(0.01, 99_999)]
    elif dom == "weight":
        vals = [round(float(x), 2) for x in rng.uniform(0.05, 500.0, n)]
    elif dom == "stars":
        vals = [int(x) for x in rng.integers(1, 6, n)]
    elif dom == "date":
        base = np.datetime64("2020-01-01")
        vals = (base + rng.integers(0, 1500, n).astype("timedelta64[D]")).tolist()
    else:
        raise ValueError(dom)
    mask = rng.random(n) < NULL_RATE
    vals = [None if m else v for v, m in zip(vals, mask)]
    return vals, {v for v in vals if v is not None}


_ARROW = {"string": pa.string(), "int": pa.int64(), "float": pa.float64(), "date": pa.date32()}


def gen_lake(seed: int, profile: str, out_dir: str, vocab: Vocab) -> dict:
    rng = np.random.default_rng([seed, 1])
    pools = {d: _pool(d, s, vocab) for d, s in POOL_SIZES.items()}
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, dict] = {}
    values: dict[tuple[str, str], set] = {}
    for i, n in enumerate(LAKE_ROWS[profile]):
        fam = FAMILY_ORDER[i % len(FAMILY_ORDER)]
        name = f"t{i:02d}_{fam}"
        cols, arrays = [], []
        for cname, ctype, dom in FAMILIES[fam]:
            vals, distinct = _column(dom, n, rng, vocab, pools)
            if dom in POOL_SIZES:
                values[(name, cname)] = distinct
            cols.append(cname)
            arrays.append(pa.array(vals, type=_ARROW[ctype]))
        pq.write_table(pa.Table.from_arrays(arrays, names=cols), os.path.join(out_dir, f"{name}.parquet"))
        tables[name] = {
            "family": fam,
            "rows": n,
            "columns": {c: t for c, t, _ in FAMILIES[fam]},
            "key_columns": [c for c, _, d in FAMILIES[fam] if d in POOL_SIZES],
        }
    joinable = []
    keys = sorted(values)
    for a in range(len(keys)):
        for b in range(a + 1, len(keys)):
            (ta, ca), (tb, cb) = keys[a], keys[b]
            if ta == tb:
                continue
            sa, sb = values[keys[a]], values[keys[b]]
            inter = len(sa & sb)
            if inter:
                jac = inter / len(sa | sb)
                if jac >= 0.3:
                    joinable.append({"left": [ta, ca], "right": [tb, cb], "jaccard": round(jac, 4)})
    unionable = [
        [a, b]
        for a in sorted(tables)
        for b in sorted(tables)
        if a < b and tables[a]["family"] == tables[b]["family"]
    ]
    return {"tables": tables, "joinable": joinable, "unionable": unionable}


def gen_embeddings(seed: int, n: int, out_path: str) -> list[list[int]]:
    rng = np.random.default_rng([seed, 2])
    emb = rng.normal(size=(n, EMB_DIM))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    near = []
    targets = rng.choice(np.arange(EMB_QUERY_IDS, n), size=EMB_QUERY_IDS, replace=False)
    for q, t in enumerate(targets):
        emb[t] = emb[q] + 0.05 * rng.normal(size=EMB_DIM) / np.sqrt(EMB_DIM)
        near.append([q, int(t)])
    emb = emb.astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )
    pq.write_table(tbl, out_path)
    return near


def _shingles(tokens: list[str]) -> set[tuple[str, ...]]:
    return {tuple(tokens[i : i + SHINGLE_N]) for i in range(len(tokens) - SHINGLE_N + 1)}


def shingle_jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


def _near_copy(src: list[str], rng: np.random.Generator, vocab: Vocab) -> list[str]:
    """One or two small edits (substitute, insert or drop a token) that keep
    word 3-gram Jaccard with ``src`` at or above MIN_JACCARD."""
    while True:
        toks = list(src)
        for _ in range(int(rng.integers(1, 3))):
            pos = int(rng.integers(0, len(toks)))
            op = int(rng.integers(0, 3))
            if op == 0:
                toks[pos] = vocab.sample(rng, 1)[0]
            elif op == 1:
                toks.insert(pos, vocab.sample(rng, 1)[0])
            elif len(toks) > SHINGLE_N + 1:
                del toks[pos]
        if toks != src and shingle_jaccard(src, toks) >= MIN_JACCARD:
            return toks


def _doc(rng: np.random.Generator, vocab: Vocab) -> list[str]:
    n = int(rng.integers(80, 140))
    toks = vocab.sample(rng, n)
    stops = rng.integers(0, len(STOP), n)
    for i in np.nonzero(rng.random(n) < 0.25)[0]:
        toks[i] = STOP[stops[i]]
    return toks


def _write_docs(path: str, ids: list[int], docs: list[list[str]]) -> None:
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, type=pa.int64()), "text": [" ".join(d) for d in docs]}),
        path,
    )


def gen_corpus(seed: int, profile: str, out_dir: str, vocab: Vocab) -> dict:
    """Base corpus plus batches. Every original is accepted by dedup; every
    planted copy duplicates an original with a lower id, so keep-first
    dedup must reject it."""
    n_base, batch_size, n_batches = CORPUS[profile]
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    originals: list[list[str]] = []
    base = [_doc(rng, vocab) for _ in range(n_base)]
    originals.extend(base)
    _write_docs(os.path.join(out_dir, "base.parquet"), list(range(n_base)), base)
    next_id = n_base
    planted: dict[str, dict] = {}
    batches = []
    n_dup = int(round(batch_size * DUP_SHARE))
    for b in range(n_batches):
        dup_pos = set(int(p) for p in rng.choice(np.arange(1, batch_size), n_dup, replace=False))
        ids, docs = [], []
        for pos in range(batch_size):
            if pos in dup_pos:
                src = int(rng.integers(0, len(originals)))
                exact = rng.random() < EXACT_SHARE
                toks = list(originals[src]) if exact else _near_copy(originals[src], rng, vocab)
                planted[str(next_id)] = {"source": src, "exact": bool(exact)}
            else:
                toks = _doc(rng, vocab)
                originals.append(toks)
            ids.append(next_id)
            docs.append(toks)
            next_id += 1
        name = f"batch_{b:03d}"
        _write_docs(os.path.join(out_dir, f"{name}.parquet"), ids, docs)
        batches.append({"name": name, "first_id": ids[0], "size": batch_size})
    # originals are indexed 0..len-1 in creation order; map to doc ids
    orig_ids = list(range(n_base)) + [
        i for i in range(n_base, next_id) if str(i) not in planted
    ]
    for p in planted.values():
        p["source"] = orig_ids[p["source"]]
    return {"base_docs": n_base, "batch_size": batch_size, "batches": batches, "planted": planted}


def generate(seed: int, out_dir: str, size: str = "full", parts: tuple[str, ...] = ("index", "search", "corpus")) -> dict:
    """Write the requested input sets under ``out_dir``; return the truth."""
    vocab = Vocab.build(np.random.default_rng([seed, 0]))
    truth: dict = {"seed": seed, "size": size}
    tiny = size == "tiny"
    if "index" in parts:
        truth["index_lake"] = gen_lake(seed, "tiny" if tiny else "index", os.path.join(out_dir, "index_lake"), vocab)
    if "search" in parts:
        d = os.path.join(out_dir, "search_lake")
        truth["search_lake"] = gen_lake(seed + 7919, "tiny" if tiny else "search", d, vocab)
        n_emb = EMB_ROWS["tiny" if tiny else "search"]
        truth["embeddings"] = {
            "rows": n_emb,
            "dim": EMB_DIM,
            "near_neighbours": gen_embeddings(seed, n_emb, os.path.join(d, "embeddings.parquet")),
        }
    if "corpus" in parts:
        truth["corpus"] = gen_corpus(seed, "tiny" if tiny else "full", os.path.join(out_dir, "corpus"), vocab)
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, default=str)
    return truth


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    a = ap.parse_args()
    generate(a.seed, a.out, a.size)


if __name__ == "__main__":
    main()
