#!/usr/bin/env python3
"""Seeded bills-like corpus with planted truth.

Usage: python3 perfbench/gen_corpus.py --seed N --docs D --out DIR

Writes DIR/documents.parquet in the engine's declared `documents` schema
(doc_id long, text string, lang string, source string, n_chars long) and
DIR/truth.json with what was planted. The program under test reads only
documents.parquet.

Make-up of the corpus:
  - a vocabulary of 30,000 pseudo-words (three consonant-vowel syllables,
    English stop words removed) under a Zipf-Mandelbrot law; 12 topics each
    own 1,500 of the words, and a document draws 60% of its tokens from its
    topic and the rest from the shared 12,000;
  - log-normal document lengths (median 140 tokens, sigma 0.7) plus 1% of
    very short documents (3-9 tokens) that the corpus quality gate drops;
  - `lang` is the group key: 8 two-letter "state" codes with unequal sizes;
  - "model legislation" families: a template copied into 2-5 different
    groups, each copy with 5-25% of its tokens substituted and a few
    inserted or deleted;
  - exact duplicates (same text, another doc_id) and near duplicates (0.3-4%
    of tokens substituted, so their exact 5-shingle Jaccard, which is
    recorded, spans CorpusBuild's 0.8 threshold);
  - contamination: spans of 6-12 tokens copied from a document of the eval
    slice (doc_id % 11 == 0) into documents outside it.

truth.json holds (planted_pairs.parquet and near_dups.parquet repeat the
pairs as tables):
  planted_pairs   cross-group pairs (a < b) of documents made from one
                  source text (family copies, exact and near duplicates);
  exact_dups      [a, b] pairs with identical text;
  near_dups       [a, b, jaccard5] pairs, jaccard5 in [0, 1];
  contaminated    ids that received an eval-slice span.
"""
import argparse
import json
import os
import sys
import zipfile
import glob

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GROUPS = ["ca", "ny", "tx", "fl", "il", "pa", "oh", "wa"]
GROUP_P = np.array([0.20, 0.16, 0.15, 0.12, 0.11, 0.10, 0.09, 0.07])
N_TOPICS = 12
TOPIC_WORDS = 1500
VOCAB = 30000
EVAL_MOD = 11
CONSONANTS = "bcdfghjklmnprstvz"
VOWELS = "aeiou"


def spark_english_stopwords():
    """Spark's default English stop list, read from the MLlib jar when it is
    on this host (the same list the pipeline removes); a pseudo-word that
    happens to be a stop word is simply left out of the vocabulary."""
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    for jar in glob.glob(os.path.join(home, "jars", "spark-mllib_*.jar")):
        with zipfile.ZipFile(jar) as z:
            return set(z.read("org/apache/spark/ml/feature/stopwords/english.txt")
                       .decode().split())
    return set()


def vocabulary(rng):
    syll = [c + v for c in CONSONANTS for v in VOWELS]  # 85 syllables
    stop = spark_english_stopwords()
    n = len(syll)
    codes = rng.choice(n ** 3, size=VOCAB + 2000, replace=False)
    words = []
    for code in codes:
        w = syll[code // (n * n)] + syll[(code // n) % n] + syll[code % n]
        if w not in stop:
            words.append(w)
        if len(words) == VOCAB:
            break
    return np.array(words, dtype=object)


def zipf_mandelbrot(n, q=30.0, s=1.05):
    p = 1.0 / (np.arange(1, n + 1) + q) ** s
    return p / p.sum()


class TextGen:
    def __init__(self, rng):
        self.rng = rng
        words = vocabulary(rng)
        perm = rng.permutation(VOCAB)
        self.topic_words = [words[perm[t * TOPIC_WORDS:(t + 1) * TOPIC_WORDS]]
                            for t in range(N_TOPICS)]
        self.general = words[perm[N_TOPICS * TOPIC_WORDS:]]
        self.p_topic = zipf_mandelbrot(TOPIC_WORDS)
        self.p_general = zipf_mandelbrot(len(self.general))

    def length(self):
        if self.rng.random() < 0.01:
            return int(self.rng.integers(3, 10))
        return int(np.clip(self.rng.lognormal(np.log(140), 0.7), 12, 2400))

    def tokens(self, topic, n):
        from_topic = self.rng.random(n) < 0.6
        out = np.empty(n, dtype=object)
        k = int(from_topic.sum())
        out[from_topic] = self.rng.choice(self.topic_words[topic], size=k, p=self.p_topic)
        out[~from_topic] = self.rng.choice(self.general, size=n - k, p=self.p_general)
        return list(out)

    def edit(self, toks, topic, rate, indels=True):
        """Substitute about `rate` of the tokens; optionally insert/delete a few."""
        toks = list(toks)
        n = len(toks)
        n_sub = max(1, int(round(rate * n)))
        pos = self.rng.choice(n, size=min(n_sub, n), replace=False)
        repl = self.tokens(topic, len(pos))
        for p, w in zip(pos, repl):
            toks[p] = w
        if indels:
            for _ in range(int(self.rng.integers(0, 3))):
                if len(toks) > 20 and self.rng.random() < 0.5:
                    del toks[int(self.rng.integers(0, len(toks)))]
                else:
                    toks.insert(int(self.rng.integers(0, len(toks) + 1)),
                                self.tokens(topic, 1)[0])
        return toks


def render(toks, rng):
    """Bill-like surface: sentence breaks and section markers. The engine's
    cleaning drops the digits and punctuation again."""
    out = []
    for i, w in enumerate(toks):
        if i % 60 == 0 and i > 0:
            out.append(f"sec. {int(rng.integers(1, 99))}:")
        out.append(w + ("." if i % 17 == 16 else ""))
    return " ".join(out)


def shingles5(text):
    t = text.split()
    return {" ".join(t[i:i + 5]) for i in range(len(t) - 4)}


def jaccard5(a, b):
    sa, sb = shingles5(a), shingles5(b)
    u = len(sa | sb)
    return len(sa & sb) / u if u else 0.0


def generate(seed, n_docs):
    rng = np.random.default_rng(seed)
    gen = TextGen(rng)
    # roles: 12% family copies, 2% exact dups, 3% near dups, rest plain
    n_family = int(0.12 * n_docs)
    n_exact = int(0.02 * n_docs)
    n_near = int(0.03 * n_docs)
    docs = []  # dicts: toks, topic, lang, src (index of source doc), kind

    def new_lang():
        return GROUPS[rng.choice(len(GROUPS), p=GROUP_P)]

    fam = 0
    while len(docs) < n_family:
        topic = int(rng.integers(N_TOPICS))
        template = gen.tokens(topic, max(40, gen.length()))
        m = int(rng.integers(2, 6))
        langs = list(rng.choice(GROUPS, size=m, replace=False, p=GROUP_P))
        for g in langs:
            docs.append(dict(toks=gen.edit(template, topic, rng.uniform(0.05, 0.25)),
                             topic=topic, lang=g, kind="family", fam=fam))
        fam += 1
    n_plain = n_docs - len(docs) - n_exact - n_near
    for _ in range(n_plain):
        topic = int(rng.integers(N_TOPICS))
        docs.append(dict(toks=gen.tokens(topic, gen.length()), topic=topic,
                         lang=new_lang(), kind="plain", fam=None))
    base = len(docs)
    for kind, count in (("exact", n_exact), ("near", n_near)):
        for _ in range(count):
            j = int(rng.integers(base))
            while len(docs[j]["toks"]) < 30:
                j = int(rng.integers(base))
            s = docs[j]
            docs.append(dict(toks=s["toks"], topic=s["topic"], lang=new_lang(),
                             kind=kind, fam=s["fam"], src=j))

    ids = rng.permutation(len(docs))
    texts = [None] * len(docs)
    for i, d in enumerate(docs):
        if d["kind"] in ("exact", "near"):
            continue
        texts[i] = render(d["toks"], rng)
    for i, d in enumerate(docs):
        if d["kind"] == "exact":
            texts[i] = texts[d["src"]]
        elif d["kind"] == "near":
            texts[i] = " ".join(gen.edit(texts[d["src"]].split(), d["topic"],
                                         rng.uniform(0.003, 0.04), indels=False))

    # contamination: plain docs outside the eval slice get an eval-doc span
    eval_idx = [i for i in range(len(docs)) if ids[i] % EVAL_MOD == 0
                and docs[i]["kind"] == "plain" and len(docs[i]["toks"]) >= 12]
    copied = {d["src"] for d in docs if "src" in d}
    cand = [i for i in range(len(docs)) if ids[i] % EVAL_MOD != 0
            and docs[i]["kind"] == "plain" and i not in copied]
    contaminated = []
    for i in rng.choice(cand, size=int(0.02 * n_docs), replace=False):
        e = texts[int(rng.choice(eval_idx))].split()
        span_len = int(rng.integers(6, 13))
        start = int(rng.integers(0, max(1, len(e) - span_len)))
        span = e[start:start + span_len]
        t = texts[i].split()
        at = int(rng.integers(0, len(t) + 1))
        texts[i] = " ".join(t[:at] + span + t[at:])
        contaminated.append(int(ids[i]))

    # planted truth, in doc_id space
    by_source = {}
    for i, d in enumerate(docs):
        root = i
        while docs[root]["kind"] in ("exact", "near"):
            root = docs[root]["src"]
        key = ("fam", docs[root]["fam"]) if docs[root]["kind"] == "family" else ("doc", root)
        by_source.setdefault(key, []).append(i)
    planted = set()
    for members in by_source.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                a, b = members[x], members[y]
                if docs[a]["lang"] != docs[b]["lang"]:
                    planted.add((min(ids[a], ids[b]), max(ids[a], ids[b])))
    exact_dups, near_dups = [], []
    for i, d in enumerate(docs):
        if d["kind"] == "exact":
            exact_dups.append(sorted([int(ids[i]), int(ids[d["src"]])]))
        elif d["kind"] == "near":
            a, b = sorted([int(ids[i]), int(ids[d["src"]])])
            near_dups.append([a, b, jaccard5(texts[i], texts[d["src"]])])

    order = np.argsort(ids)
    sources = [f"src{int(x)}" for x in rng.integers(0, 20, size=len(docs))]
    table = pa.table({
        "doc_id": pa.array([int(ids[i]) for i in order], pa.int64()),
        "text": pa.array([texts[i] for i in order], pa.string()),
        "lang": pa.array([docs[i]["lang"] for i in order], pa.string()),
        "source": pa.array([sources[i] for i in order], pa.string()),
        "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
    })
    truth = dict(seed=seed, docs=len(docs), families=fam,
                 planted_pairs=sorted([int(a), int(b)] for a, b in planted),
                 exact_dups=sorted(exact_dups), near_dups=sorted(near_dups),
                 contaminated=sorted(contaminated))
    return table, truth


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--docs", type=int, default=4000)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    table, truth = generate(a.seed, a.docs)
    os.makedirs(a.out, exist_ok=True)
    pq.write_table(table, os.path.join(a.out, "documents.parquet"))
    with open(os.path.join(a.out, "truth.json"), "w") as f:
        json.dump(truth, f)
    # the same truth as tables, for the traced run's recall counters
    pairs = np.array(truth["planted_pairs"], dtype=np.int64).reshape(-1, 2)
    pq.write_table(pa.table({"pk1": pairs[:, 0], "pk2": pairs[:, 1]}),
                   os.path.join(a.out, "planted_pairs.parquet"))
    near = truth["near_dups"]
    pq.write_table(pa.table({
        "d1": pa.array([int(r[0]) for r in near], pa.int64()),
        "d2": pa.array([int(r[1]) for r in near], pa.int64()),
        "jaccard": pa.array([float(r[2]) for r in near], pa.float64())}),
        os.path.join(a.out, "near_dups.parquet"))


if __name__ == "__main__":
    sys.exit(main())
