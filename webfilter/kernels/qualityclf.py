"""fastText-style quality classifier: logistic regression on hashed
character 4-grams, wiki-like (natural prose, any language) vs
spam-like (keyword stuffing, symbol/digit noise).

Web-curation pipelines gate or weight documents with exactly this
shape of model (a linear classifier over hashed n-gram features —
CCNet / LLaMA-style "looks like a reference page" scorers); here the
model is trained deterministically on first scoring call (lazily,
cached per process — ADVICE r3) from the embedded
corpora (positives: the per-language natural-prose training texts;
negatives: the keyword-stuffed spam text) with full-batch gradient
descent from a zero init — no external model files, no randomness.

Training and scoring share langid's featurizer (``mix.codepoints`` +
``mix.char_ngrams``): one uint32 codepoint array for the entire Arrow
batch, one hashing pass, one bincount per doc, one mat-vec — zero
per-document Python.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd

from .corpora import LANGS, lang_training_text, spam_training_text
from .mix import char_ngrams, codepoints

DIM = 1 << 12
_MASK = DIM - 1
NGRAM = 4


def _training_set() -> tuple[np.ndarray, np.ndarray]:
    """Deterministic windows over the embedded corpora: positives are
    overlapping slices of each language's prose text, negatives are
    slices of the spam text (cycled so every slice index exists).
    Each row is the window's L2-normalized hashed-count vector."""
    win, step = 160, 40
    snippets = []
    for lang in LANGS:
        t = lang_training_text(lang)
        snippets += [t[s : s + win] for s in range(0, max(len(t) - win, 1), step)]
    n_pos = len(snippets)
    spam = spam_training_text()
    spam = spam * (1 + (n_pos * win) // max(len(spam), 1))
    for i in range(n_pos):  # balanced classes
        s = (i * step) % max(len(spam) - win, 1)
        snippets.append(spam[s : s + win])
    ids, gram_doc = char_ngrams(*codepoints(pd.Series(snippets))[:2], NGRAM, _MASK)
    X = np.zeros((len(snippets), DIM), dtype=np.float64)
    np.add.at(X, (gram_doc, ids), 1.0)
    norm = np.linalg.norm(X, axis=1, keepdims=True)
    np.divide(X, norm, out=X, where=norm > 0)
    return X, np.repeat([1.0, 0.0], n_pos)


@functools.cache
def _train() -> tuple[np.ndarray, float]:
    """Full-batch logistic regression GD from a zero init (300 steps,
    learning rate 4.0, L2 1e-4) —
    deterministic given the corpora (no shuffling, no RNG).  Trained
    once per process on first scoring call (ADVICE r3: import-time
    training added ~fixed startup latency to every executor Python
    worker even when the quality gate is off).  The weights are rounded
    to float32, the model's precision, and upcast once to float64 for
    scoring."""
    X, y = _training_set()
    w = np.zeros(DIM, dtype=np.float64)
    b = 0.0
    m = len(y)
    for _ in range(300):
        p = 1.0 / (1.0 + np.exp(-(X @ w + b)))
        g = p - y
        w -= 4.0 * ((X.T @ g) / m + 1e-4 * w)
        b -= 4.0 * float(g.mean())
    return w.astype(np.float32).astype(np.float64), float(b)


def quality_prob_batch(texts: pd.Series) -> pd.Series:
    """P(wiki-like) per document, whole-batch vectorized (float64).

    Empty/too-short docs (< NGRAM chars) score 0.5 — no evidence
    either way; the heuristic rules handle degenerate docs upstream.
    """
    n = len(texts)
    out = np.full(n, 0.5, dtype=np.float64)
    w, b = _train()
    ids, gram_doc = char_ngrams(*codepoints(texts)[:2], NGRAM, _MASK)

    # per-doc dot(w, counts) / ||counts|| == w . x  in one pass:
    # bincount(doc, w[ids]) gives dot with UNnormalized counts; the
    # L2 norm needs per-doc gram counts per id — get it from a sparse
    # (doc, id) pair count
    dot = np.bincount(gram_doc, weights=w[ids], minlength=n)
    pair = gram_doc * DIM + ids
    uniq, cnt = np.unique(pair, return_counts=True)
    sq = np.bincount(
        (uniq // DIM).astype(np.int64), weights=(cnt.astype(np.float64)) ** 2,
        minlength=n,
    )
    norm = np.sqrt(sq)
    has = norm > 0
    z = np.zeros(n, dtype=np.float64)
    z[has] = dot[has] / norm[has] + b
    out[has] = 1.0 / (1.0 + np.exp(-z[has]))
    return pd.Series(out)
