"""Output checks of the benchmark's workloads, computed apart from the program
(numpy, pyarrow and DuckDB over the same input files).

Each check raises CheckFailed with the first discrepancy it finds.
"""
import glob
import hashlib
import json
import math
import os
import re
from collections import defaultdict

import numpy as np
import pyarrow.parquet as pq

import gen_corpus
import oracle_cache


class CheckFailed(Exception):
    pass


def _need(cond, msg):
    if not cond:
        raise CheckFailed(msg)


def _read(path):
    """A parquet file or a Spark output dir (part files in name order)."""
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
        _need(os.path.exists(os.path.join(path, "_SUCCESS")), f"{path}: no _SUCCESS")
        rows = defaultdict(list)
        for f in files:
            t = pq.read_table(f).to_pydict()
            for k, v in t.items():
                rows[k].extend(v)
        return dict(rows)
    return pq.read_table(path).to_pydict()


def _documents(data):
    return _read(os.path.join(data, "documents.parquet"))


# ------------------------------------------------------- TF-IDF replay

def murmur3_32(data, seed=42):
    """murmur3_x86_32 as Spark's HashingTF applies it to a term's UTF-8
    bytes (standard tail handling), as a signed 32-bit int."""
    m = 0xFFFFFFFF

    def mix_k(k):
        k = (k * 0xCC9E2D51) & m
        k = ((k << 15) | (k >> 17)) & m
        return (k * 0x1B873593) & m

    h = seed
    n = len(data)
    aligned = n - n % 4
    for i in range(0, aligned, 4):
        h ^= mix_k(int.from_bytes(data[i:i + 4], "little"))
        h = ((h << 13) | (h >> 19)) & m
        h = (h * 5 + 0xE6546B64) & m
    k = 0
    for j, b in enumerate(data[aligned:]):
        k |= b << (8 * j)
    h ^= mix_k(k)
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & m
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & m
    h ^= h >> 16
    return h - (1 << 32) if h & 0x80000000 else h


_CLEAN = re.compile(r"[0-9,:;?!]")
_SHORT = re.compile(r"\b\w{1,2}\b", re.ASCII)
_NONWORD = re.compile(r"\W", re.ASCII)


def terms(text, stop):
    """lower → drop digits and ,:;?! → drop 1-2 letter words → split on \\W
    → drop empty tokens and English stop words (FeaturePipeline's chain)."""
    t = _SHORT.sub("", _CLEAN.sub("", text.lower()))
    return [w for w in _NONWORD.split(t) if w and w not in stop]


def tfidf(texts, num_features):
    """HashingTF(num_features) + IDF (log((m+1)/(df+1))) per document, as
    {bucket: weight} dicts."""
    stop = gen_corpus.spark_english_stopwords()
    _need(stop, "Spark's English stop word list was not found")
    bucket = {}
    tfs = []
    for text in texts:
        tf = defaultdict(int)
        for w in terms(text, stop):
            b = bucket.get(w)
            if b is None:
                b = bucket[w] = murmur3_32(w.encode()) % num_features
            tf[b] += 1
        tfs.append(tf)
    df = defaultdict(int)
    for tf in tfs:
        for b in tf:
            df[b] += 1
    m = len(tfs)
    idf = {b: math.log((m + 1) / (d + 1)) for b, d in df.items()}
    return [{b: c * idf[b] for b, c in tf.items()} for tf in tfs]


def cosine100(a, b):
    dot = sum(v * b[k] for k, v in a.items() if k in b)
    na = math.sqrt(sum(v * v for v in a.values()))
    nb = math.sqrt(sum(v * v for v in b.values()))
    return float(np.float32(100.0 * abs(dot) / (na * nb)))


# ---------------------------------------------------------- BillMatch

def pagerank(edges, num_iter=10, reset=0.15):
    """Unnormalized PageRank (GraphX/DataFrame form) over undirected edges."""
    nbrs = defaultdict(set)
    for u, v in edges:
        nbrs[u].add(v)
        nbrs[v].add(u)
    rank = {v: 1.0 for v in nbrs}
    for _ in range(num_iter):
        msum = defaultdict(float)
        for u, ns in nbrs.items():
            share = rank[u] / len(ns)
            for v in ns:
                msum[v] += share
        rank = {v: reset + (1.0 - reset) * msum[v] for v in nbrs}
    return rank, nbrs


def triangles(nbrs):
    return {v: sum(len(ns & nbrs[u]) for u in ns) // 2 for v, ns in nbrs.items()}


def check_billmatch(data, out, top_k):
    docs = _documents(data)
    lang = dict(zip(docs["doc_id"], docs["lang"]))
    pairs = _read(os.path.join(out, "pairs.parquet"))
    rows = list(zip(pairs["pk1"], pairs["pk2"], pairs["similarity"]))
    _need(0 < len(rows) <= top_k, f"pairs: {len(rows)} rows for top-{top_k}")
    _need(len({(a, b) for a, b, _ in rows}) == len(rows), "pairs: duplicate pair")
    for a, b, s in rows:
        _need(a < b, f"pairs: pk1 {a} >= pk2 {b}")
        _need(lang[a] != lang[b], f"pairs: ({a}, {b}) share group {lang[a]}")
    _need(rows == sorted(rows, key=lambda r: (-r[2], r[0], r[1])),
          "pairs: not in (similarity desc, pk1, pk2) order")

    index = {d: i for i, d in enumerate(docs["doc_id"])}
    vecs = tfidf(docs["text"], 1024)
    for a, b, s in rows:
        want = cosine100(vecs[index[a]], vecs[index[b]])
        _need(abs(want - s) <= 1e-3, f"pairs: cosine({a}, {b}) = {s}, recomputed {want}")

    graph = _read(os.path.join(out, "graph.parquet"))
    rank, nbrs = pagerank({(a, b) for a, b, _ in rows})
    tri = triangles(nbrs)
    got = list(zip(graph["vertex"], graph["rank"], graph["n_triangles"]))
    _need(sorted(v for v, _, _ in got) == sorted(nbrs), "graph: vertex set differs from pair endpoints")
    for v, r, t in got:
        _need(abs(r - rank[v]) <= 1e-9 * max(1.0, rank[v]),
              f"graph: pagerank({v}) = {r}, power iteration gives {rank[v]}")
        _need(t == tri[v], f"graph: triangles({v}) = {t}, recomputed {tri[v]}")


# -------------------------------------------------------- CorpusBuild

MIN_TOK, MAX_TOK, JACCARD, EVAL_MOD = 10, 1000, 0.8, 11


def split_label(doc_id):
    b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:12], 16) % 10
    return "train" if b < 8 else ("val" if b == 8 else "test")


def _grams(toks, n):
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def check_corpus(data, out):
    docs = _documents(data)
    text = dict(zip(docs["doc_id"], docs["text"]))
    meta = {d: (l, s) for d, l, s in zip(docs["doc_id"], docs["lang"], docs["source"])}
    toks = {d: t.split() for d, t in text.items()}

    corpus = pq.read_table(os.path.join(out, "corpus.parquet")).to_pydict()
    rows = list(zip(corpus["doc_id"], corpus["lang"], corpus["source"],
                    corpus["n_tok"], [str(s) for s in corpus["split"]], corpus["text"]))
    ids = [r[0] for r in rows]
    _need(len(set(ids)) == len(ids), "corpus: duplicate doc_id")
    eval_grams = set()
    for d, t in toks.items():
        if d % EVAL_MOD == 0:
            eval_grams |= _grams(t, 4)
    for d, lang, source, n_tok, split, t in rows:
        _need(t == text[d] and (lang, source) == meta[d], f"corpus: doc {d} altered")
        _need(n_tok == len(toks[d]) and MIN_TOK <= n_tok <= MAX_TOK,
              f"corpus: doc {d} n_tok {n_tok} vs {len(toks[d])} tokens")
        _need(split == split_label(d), f"corpus: doc {d} split {split}")
        _need(d % EVAL_MOD != 0, f"corpus: eval-slice doc {d} survived")
        _need(not (_grams(toks[d], 4) & eval_grams), f"corpus: doc {d} shares a 4-gram with the eval slice")
    _need(len({r[5] for r in rows}) == len(rows), "corpus: identical texts survived")

    # independent replay: gate, exact dedup (smallest id per text), eval
    # exclusion, decontamination; whatever else is missing must be a
    # near-duplicate of a smaller-id exact-dedup survivor
    first = {}
    for d in sorted(text):
        if MIN_TOK <= len(toks[d]) <= MAX_TOK:
            first.setdefault(text[d], d)
    survivors = sorted(first.values())
    shingles = {d: _grams(toks[d], 5) for d in survivors}
    postings = defaultdict(list)
    for d in survivors:
        for g in shingles[d]:
            postings[g].append(d)
    kept = set(ids)
    _need(kept <= set(survivors), "corpus: a gated-out or exact-duplicate doc survived")
    for d in survivors:
        if d in kept or d % EVAL_MOD == 0 or _grams(toks[d], 4) & eval_grams:
            continue
        partners = {e for g in shingles[d] for e in postings[g] if e < d}
        _need(any(len(shingles[d] & shingles[e]) / len(shingles[d] | shingles[e]) >= JACCARD
                  for e in partners),
              f"corpus: doc {d} removed without a smaller-id partner at 5-shingle Jaccard >= {JACCARD}")

    report = _read(os.path.join(out, "report.parquet"))
    want = defaultdict(lambda: [0, 0])
    for d, lang, _, n_tok, split, _ in rows:
        want[(split, lang)][0] += 1
        want[(split, lang)][1] += n_tok
    got = {(s, l): [n, t] for s, l, n, t in
           zip(report["split"], report["lang"], report["n_docs"], report["n_tokens"])}
    _need(got == dict(want), "report: totals differ from the corpus")


# ----------------------------------------------------------- registry

def pin_checksum(cols):
    """Verify.checksum: sum over rows of the 60-bit md5 prefix of the
    non-float columns (sorted by name) joined with \\u0001."""
    names = sorted(cols)
    total = 0
    for row in zip(*(cols[c] for c in names)):
        s = "\u0001".join("\u0000" if v is None else str(v) for v in row)
        total += int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
    return str(total)


def check_registry(sf_dir, out, names):
    """Oracle compare (cached results, see oracle_cache.py) or gate pin per
    query. Returns the queries whose output is missing (failed operations)."""
    with open(os.path.join(out, "oracles.json")) as f:
        oracles = json.load(f)
    failed = []
    for q in names:
        path = os.path.join(out, q)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            failed.append(q)
            continue
        o = oracles.get(q, {})
        if "sql" in o:
            want = oracle_cache.expected(o["sql"], sf_dir)
            got = oracle_cache.summary(oracle_cache.spark_frame(path))
            _need(got == want, f"{q}: output {got} differs from its DuckDB oracle {want}")
        elif "pin" in o:
            rows, checksum = o["pin"].split(":")
            cols = _read(path)
            n = len(next(iter(cols.values()))) if cols else 0
            floats = {c for c, v in cols.items() if v and isinstance(v[0], float)}
            got = pin_checksum({c: v for c, v in cols.items() if c not in floats})
            _need(n == int(rows), f"{q}: {n} rows, pinned {rows}")
            _need(not checksum or got == checksum, f"{q}: checksum {got}, pinned {checksum}")
        else:
            raise CheckFailed(f"{q}: the registry gives neither an oracle nor a pin")
    return failed
