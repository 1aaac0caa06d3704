#!/usr/bin/env python3
"""Seeded generator for a training-data corpus with planted duplicates.

The text uses the vocabulary of the repository's ``documents`` test
fixture (30 lowercase words plus the rare ``dup``; two are stopwords and
``the`` is the only language marker the language-ID heuristic knows).
The corpus is written as ``<out>/documents.parquet/part-NNNNN.parquet``
shards with the fixture's columns (doc_id, text, lang, source, n_chars).

Planted structure, all recorded in the returned ground truth:

* clean documents: 30-90 tokens with ``the`` at least three times, so
  they pass ``TrainingData.prepare``'s quality and language filters;
* rejected documents: long ones without ``the`` (no language guess) and
  short punctuation-heavy ones (quality below 0.5);
* exact copies of clean and rejected documents (prepare keeps the lowest
  doc_id of each text);
* near-duplicate clusters: a seed document plus variants with a few
  token substitutions, and one cluster larger than ``Dedup``'s default
  ``maxBucket`` (64) of one-substitution variants, which drives the
  oversized-bucket star path.

doc_ids are a seeded permutation, so copies and cluster seeds are not
always the lowest id. The same seed always gives identical files.
"""
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
RARE = "dup"
PUNCT = ("!!!", "???", "--", "##", "**")
SHARDS = 8
BIG_CLUSTER = 160


def _clean_tokens(rng, lo=30, hi=90):
    n = rng.randint(lo, hi)
    toks = rng.choices(VOCAB, k=n)
    if rng.random() < 0.02:
        toks[rng.randrange(n)] = RARE
    # guarantee the language marker: at least three "the"
    for p in rng.sample(range(n), 3):
        toks[p] = "the"
    return toks


def _variant(rng, toks, subs):
    """Substitute `subs` non-"the" positions with other words."""
    out = list(toks)
    cand = [i for i, t in enumerate(out) if t != "the"]
    for p in rng.sample(cand, subs):
        out[p] = rng.choice([w for w in VOCAB if w not in (out[p], "the")])
    return out


def generate(seed, out, n_docs):
    """Write the corpus; returns (sizes, ground truth)."""
    rng = random.Random(seed)
    texts = []        # generation order; doc ids assigned at the end
    kind = []         # "clean" | "reject" | "copy" | "seed" | "variant"
    cluster_of = []   # cluster index for seeds/variants, else -1
    seen = set()

    def add(toks, k, cl=-1):
        t = " ".join(toks)
        texts.append(t)
        kind.append(k)
        cluster_of.append(cl)
        seen.add(t)

    # near-duplicate clusters: ~20% of the corpus
    n_clusters = max(2, n_docs // 40)
    sizes = [rng.randint(2, 8) for _ in range(n_clusters - 1)] + [BIG_CLUSTER]
    for c, size in enumerate(sizes):
        base = _clean_tokens(rng, 50, 90)
        add(base, "seed", c)
        subs_lo, subs_hi = (1, 1) if size == BIG_CLUSTER else (1, 4)
        made = 0
        while made < size - 1:
            v = _variant(rng, base, rng.randint(subs_lo, subs_hi))
            if " ".join(v) in seen:
                continue  # a variant must not be an exact copy
            add(v, "variant", c)
            made += 1
    n_rest = max(0, n_docs - len(texts))
    n_copy = n_rest // 20
    for _ in range(n_rest - n_copy):
        r = rng.random()
        if r < 0.08:
            toks = [t for t in rng.choices(VOCAB, k=rng.randint(30, 80)) if t != "the"]
            add(toks, "reject")
        elif r < 0.12:
            toks = ["the"] * 3 + rng.choices(VOCAB, k=4) + rng.choices(PUNCT, k=5)
            rng.shuffle(toks)
            add(toks, "reject")
        else:
            add(_clean_tokens(rng), "clean")
    # exact copies of background documents (never of cluster members)
    pool = [i for i, k in enumerate(kind) if k in ("clean", "reject")]
    for src in rng.choices(pool, k=n_copy):
        texts.append(texts[src])
        kind.append("copy")
        cluster_of.append(-1)

    n = len(texts)
    ids = np.array(rng.sample(range(n), n), np.int64)
    clean_kind = {"clean", "seed", "variant"}
    # prepare keeps the lowest id of each text that passes its filters
    best = {}
    for j in range(n):
        if kind[j] == "copy":
            continue
        best[texts[j]] = (kind[j] in clean_kind, ids[j])
    for j in range(n):
        if kind[j] == "copy":
            ok, bid = best[texts[j]]
            best[texts[j]] = (ok, min(bid, ids[j]))
    prepared = {int(bid): len(t.split()) for t, (ok, bid) in best.items() if ok}
    clusters = {}
    for j in range(n):
        if cluster_of[j] >= 0:
            clusters.setdefault(cluster_of[j], [None, []])
            if kind[j] == "seed":
                clusters[cluster_of[j]][0] = int(ids[j])
            else:
                clusters[cluster_of[j]][1].append(int(ids[j]))

    order = np.argsort(ids)
    table = pa.table({
        "doc_id": ids[order],
        "text": pa.array([texts[j] for j in order]),
        "lang": pa.array(rng.choices(["en", "de", "fr", "es", "zh"], k=n)),
        "source": pa.array(rng.choices([f"src{i}" for i in range(5)], k=n)),
        "n_chars": np.array([len(texts[j]) for j in order], np.int64),
    })
    d = os.path.join(out, "documents.parquet")
    os.makedirs(d, exist_ok=True)
    per = -(-n // SHARDS)
    total_bytes = 0
    for s in range(SHARDS):
        p = os.path.join(d, f"part-{s:05d}.parquet")
        pq.write_table(table.slice(s * per, per), p)
        total_bytes += os.path.getsize(p)
    truth = {"prepared": prepared,
             "clusters": [clusters[c] for c in sorted(clusters)],
             "big_cluster": BIG_CLUSTER}
    return {"rows": n, "bytes": total_bytes, "files": SHARDS}, truth

