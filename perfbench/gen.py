"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow: no Spark session, so the same seed
gives byte-identical parquet files and the engine only ever sees the
files.  Each generator returns a manifest that records the input sizes
and the properties its workload is meant to exercise (distinct counts,
NULL shares, injected duplicate structure); ``run.py`` adds the core
count and the source revision.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CREDIT_ROWS = 50_000
CREDIT_FEATURES = ["f0", "f1", "f2", "f3", "f4", "f5", "f6", "f7"]
NULL_FEATURES = ("f1", "f4", "f6")
NULL_SHARE = 0.05

CORPUS_DOCS = 1_000
SOURCES = [f"src{i}" for i in range(20)]
# The recipe weights of the repository's curation query: src0-4 are kept
# whole, src5-14 down-sampled, src15-19 dropped.
CURATION_WEIGHTS = {
    **{f"src{i}": 1.0 for i in range(5)},
    **{f"src{i}": 0.5 for i in range(5, 10)},
    **{f"src{i}": 0.25 for i in range(10, 15)},
}
FULL_WEIGHT_SOURCES = [s for s, w in CURATION_WEIGHTS.items() if w >= 1.0]
STOPWORDS = ["the", "and", "of", "to", "is"]
VOCAB_SIZE = 3_000
DOC_WORDS = (50, 70)
EXACT_DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.20
PII_SHARE = 0.05
MAX_CHAIN = 8


def _write(table: pa.Table, out_dir: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` equal parquet parts, so a local scan
    has one split per part."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(out_dir, f"part-{i:03d}.parquet"))


def _credit_columns(rng: np.random.Generator, n: int, shift: float) -> dict:
    """Eight double features with a spread of cardinalities and a logistic
    target.  ``shift`` moves the feature distributions (0 = training)."""
    f0 = np.round(rng.lognormal(10.3 - 0.15 * shift, 0.6, n), 2)
    f1 = np.round(rng.beta(2.0 + shift, 5.0, n), 6)
    f2 = rng.integers(0, 6, n).astype(np.float64)
    f3 = np.minimum(rng.poisson(1.5 + shift, n), 19).astype(np.float64)
    f4 = rng.integers(18, 98, n).astype(np.float64)
    f5 = np.round(rng.gamma(2.0, 6.0 + 2 * shift, n), 1)
    f5 = np.minimum(f5, 59.9)
    f6 = rng.integers(0, 1500, n).astype(np.float64)
    f7 = rng.integers(0, 3000, n).astype(np.float64)
    logit = (
        -3.6
        - 0.9 * (np.log(f0) - 10.3)
        + 2.2 * (f1 - 0.3)
        + 0.35 * f3
        - 0.02 * (f4 - 45)
        + 0.15 * f2
        - 0.0003 * (f6 - 750)
    )
    target = (rng.random(n) < 1.0 / (1.0 + np.exp(-logit))).astype(np.float64)
    cols = dict(zip(CREDIT_FEATURES, [f0, f1, f2, f3, f4, f5, f6, f7]))
    for name in NULL_FEATURES:
        col = cols[name]
        col[rng.random(n) < NULL_SHARE] = np.nan
    return {"id": np.arange(n, dtype=np.int64), **cols, "target": target}


def _credit_table(cols: dict) -> pa.Table:
    arrays = {}
    for name, values in cols.items():
        if name in NULL_FEATURES:
            arrays[name] = pa.array(values, mask=np.isnan(values))
        else:
            arrays[name] = pa.array(values)
    return pa.table(arrays)


def _credit_manifest(cols: dict) -> dict:
    n = len(cols["id"])
    return {
        "rows": n,
        "bad_rate": float(cols["target"].mean()),
        "distinct": {
            c: int(np.unique(cols[c][~np.isnan(cols[c])]).size) for c in CREDIT_FEATURES
        },
        "null_share": {c: float(np.isnan(cols[c]).mean()) for c in CREDIT_FEATURES},
    }


def make_credit(out_dir: str, seed: int, rows: int = CREDIT_ROWS, n_files: int = 8) -> dict:
    """Training table: ``rows`` x 8 double features and a 0/1 target."""
    cols = _credit_columns(np.random.default_rng(seed), rows, shift=0.0)
    _write(_credit_table(cols), out_dir, n_files)
    return _credit_manifest(cols)


def make_credit_score(
    out_dir: str, seed: int, rows: int = CREDIT_ROWS, n_files: int = 8
) -> dict:
    """Next-period scoring table: drawn from ``seed + 1`` with shifted
    feature distributions; ``f3`` drifts further in the later half."""
    rng = np.random.default_rng(seed + 1)
    late = rng.random(rows) < 0.5
    cols = _credit_columns(rng, rows, shift=0.3)
    cols["f3"][late] = np.minimum(cols["f3"][late] + 1.0, 19.0)
    _write(_credit_table(cols), out_dir, n_files)
    return _credit_manifest(cols)


def _vocabulary(rng: np.random.Generator) -> list[str]:
    """Stopwords at the head of a Zipf-ranked list of pseudo-words: a
    letters-only stem plus the decimal rank, so every word is distinct."""
    cons = list("bcdfghklmnprstvz")
    vows = list("aeiou")
    words = []
    for rank in range(VOCAB_SIZE - len(STOPWORDS)):
        syl = rng.integers(2, 4)
        stem = "".join(cons[rng.integers(16)] + vows[rng.integers(5)] for _ in range(syl))
        words.append(f"{stem}{rank}")
    return STOPWORDS + words


def _pii(rng: np.random.Generator) -> str:
    kind = rng.integers(3)
    if kind == 0:
        return f"mail user{rng.integers(10**6)}@example{rng.integers(100)}.com"
    if kind == 1:
        return "host " + ".".join(str(rng.integers(1, 255)) for _ in range(4))
    return f"call {rng.integers(200, 999)}-{rng.integers(200, 999)}-{rng.integers(1000, 9999)}"


def make_corpus(out_dir: str, seed: int, docs: int = CORPUS_DOCS, n_files: int = 4) -> dict:
    """Seeded document corpus for ``corpus_curation``.

    About EXACT_DUP_SHARE of the documents are exact copies (groups of 2-4,
    all in full-weight sources, so exactly one member must survive
    curation), about NEAR_DUP_SHARE are near-dup chain links (each link
    replaces one or two words of the previous one, so the chain's ends are
    dissimilar and connected components needs several rounds) and about
    PII_SHARE carry an email, IPv4 address or phone number.
    """
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocabulary(rng))
    ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
    zipf = 1.0 / ranks**1.1
    zipf /= zipf.sum()

    def fresh() -> list[str]:
        n_words = rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1)
        return list(vocab[rng.choice(VOCAB_SIZE, n_words, p=zipf)])

    texts: list[list[str]] = []
    sources: list[str] = []
    chains: list[list[int]] = []
    groups: list[list[int]] = []

    n_chain_docs = int(docs * NEAR_DUP_SHARE)
    while sum(len(c) for c in chains) < n_chain_docs:
        length = int(rng.integers(2, MAX_CHAIN + 1))
        words = fresh()
        chain = []
        for _ in range(length):
            chain.append(len(texts))
            texts.append(list(words))
            sources.append(SOURCES[rng.integers(len(SOURCES))])
            words = list(words)
            for pos in rng.choice(len(words), int(rng.integers(1, 3)), replace=False):
                words[pos] = vocab[rng.choice(VOCAB_SIZE, p=zipf)]
        chains.append(chain)

    n_dup_docs = int(docs * EXACT_DUP_SHARE)
    while sum(len(g) for g in groups) < n_dup_docs:
        size = int(rng.integers(2, 5))
        words = fresh()
        group = []
        for _ in range(size):
            group.append(len(texts))
            texts.append(words)
            sources.append(FULL_WEIGHT_SOURCES[rng.integers(len(FULL_WEIGHT_SOURCES))])
        groups.append(group)

    while len(texts) < docs:
        texts.append(fresh())
        sources.append(SOURCES[rng.integers(len(SOURCES))])

    n_pii = 0
    in_group = {i for g in groups for i in g}
    for i in range(len(texts)):
        if i not in in_group and rng.random() < PII_SHARE:
            words = list(texts[i])
            words.insert(int(rng.integers(len(words))), _pii(rng))
            texts[i] = words
            n_pii += 1

    # shuffle row order so duplicates are not adjacent in the files; ids
    # are the shuffled positions, so the manifest maps through ``perm``
    perm = rng.permutation(len(texts))
    doc_id = np.empty(len(texts), dtype=np.int64)
    doc_id[perm] = np.arange(len(texts), dtype=np.int64)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
            "text": pa.array([" ".join(texts[j]) + "." for j in perm]),
            "source": pa.array([sources[j] for j in perm]),
        }
    )
    _write(table, out_dir, n_files)
    return {
        "docs": len(texts),
        "exact_dup_groups": [[int(doc_id[i]) for i in g] for g in groups],
        "near_dup_chains": [[int(doc_id[i]) for i in c] for c in chains],
        "exact_dup_docs": sum(len(g) - 1 for g in groups),
        "near_dup_docs": sum(len(c) - 1 for c in chains),
        "max_chain": max(len(c) for c in chains),
        "pii_docs": n_pii,
        "sources": len(SOURCES),
    }
