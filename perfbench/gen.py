"""Seeded inputs for the benchmark workloads.

The table is a function of ``(seed, size)`` only, so two runs with one
seed read identical bytes.  Its shape follows the sf0.1 ``documents`` test
table, measured once and frozen here:

* text: 10..100 words, uniform, drawn uniformly from a 30-word vocabulary
  (mean 297 chars, quartiles 176/295/418);
* ``lang``: en 41 %, zh/es/fr 15 % each, de 14 %; ``source`` = ``src{doc_id % 20}``;
* planted duplicates: 5 % of documents copy an earlier document and append
  `` dup`` (near-duplicates), 0.16 % copy one exactly.

``doc_id`` values are offset by the seed so that the geocoded points
(the program derives x/y from ``doc_id``) differ from seed to seed; the
offset keeps every id below the 1,000,000 the corpus pipeline reserves for
its own augmented copies.

The seed picks words, which document gets which length and language, and
which documents are duplicated; the multiset of lengths, the language
counts and the duplicate counts are the same for every seed, so a run's
work varies with the seed only through content and placement.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4118, 0.1506, 0.1488, 0.1484, 0.1404)
N_SOURCES = 20
WORDS_LO, WORDS_HI = 10, 100
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.0016
ID_STRIDE = 1_000            # doc_id offset per seed step
ID_SEEDS = 800               # offsets cycle below 800k (+ size < 1M)


def id_offset(seed: int) -> int:
    return (seed % ID_SEEDS) * ID_STRIDE


def documents(seed: int, n: int) -> pa.Table:
    """``documents(doc_id, text, lang, source, n_chars)`` with planted
    near- and exact-duplicate shares."""
    rng = np.random.default_rng([seed, n, 1])
    span = WORDS_HI - WORDS_LO + 1
    # 37 is coprime with the 91 lengths: an even spread over 10..100
    lengths = rng.permutation(WORDS_LO + (np.arange(n) * 37) % span)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    vocab = np.array(VOCAB, dtype=object)
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(w) for w in np.split(vocab[words], cuts)]
    # duplicates copy an EARLIER document, so every group has one original;
    # each replaces a document of the median length with a copy of one of
    # about that length, which keeps the corpus size nearly seed-invariant
    n_near = int(round(n * NEAR_DUP_SHARE))
    n_exact = max(1, int(round(n * EXACT_DUP_SHARE)))
    mid = (WORDS_LO + WORDS_HI) // 2
    near_mid = np.argsort(np.abs(lengths - mid), kind="stable")
    late = near_mid[near_mid >= n // 2][:n_near + n_exact]
    early = near_mid[near_mid < n // 2][:2 * (n_near + n_exact)]
    for k, i in enumerate(rng.permutation(late)):
        src = int(rng.choice(early))
        texts[i] = texts[src] + " dup" if k < n_near else texts[src]
    doc_id = np.arange(n, dtype=np.int64) + id_offset(seed)
    counts = np.floor(np.array(LANG_P) / sum(LANG_P) * n).astype(int)
    counts[0] += n - counts.sum()
    lang = rng.permutation(np.repeat(np.array(LANGS, dtype=object), counts))
    return pa.table({
        "doc_id": doc_id,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array([f"src{d % N_SOURCES}" for d in doc_id],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_inputs(out_dir: str, seed: int, n_docs: int) -> dict:
    """Write ``documents.parquet`` under ``out_dir``; return its
    properties."""
    os.makedirs(out_dir, exist_ok=True)
    t = documents(seed, n_docs)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(t, path)
    d = t.to_pandas()
    return {
        "rows": t.num_rows, "bytes": os.path.getsize(path),
        "doc_id_offset": id_offset(seed),
        # the pages source re-crawls every 4th url once and every 16th
        # twice (sources/pages.py), so captures = rows + rows/4 + rows/16
        "captures": int(n_docs + (d.doc_id % 4 == 0).sum()
                        + (d.doc_id % 16 == 0).sum()),
        "near_dup_share": round(float(d.text.str.endswith(" dup").mean()), 5),
        "exact_dup_share": round(float(d.text.duplicated().mean()), 5),
        "mean_chars": round(float(d.n_chars.mean()), 1),
    }
