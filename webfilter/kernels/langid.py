"""fastText-style language identification on hashed character n-grams.

Model = one log-probability profile vector per language over a
2**14-dim hashed char-trigram space (multinomial Naive Bayes with
add-k smoothing), trained deterministically on first use from the
embedded corpora — no external model files, no randomness.  Training
and scoring share one featurizer, ``mix.codepoints`` +
``mix.char_ngrams`` (the quality classifier's too).

Scoring is fully vectorized: a batch of documents becomes one sparse
count pass in numpy; per-language scores are a dense mat-vec. This is
the "batched hashed n-gram counts, no per-row Python" stage demanded
by the north rule, replacing the reference's server-side ``ai_query``
scoring expression (databricks/model/bc_chat_ift/04_ift.py:193-194)
with a local deterministic model, delivered through the pandas-UDF
idiom of _setup/utils.py:61-63.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd

from .corpora import LANGS, lang_training_text
from .mix import char_ngrams, codepoints

DIM = 1 << 14
_MASK = DIM - 1
NGRAM = 3


@functools.cache
def _train() -> np.ndarray:
    """One log-prob profile per ``LANGS`` entry, trained once per
    process on first use from one featurizer batch of every language's
    training text; rounded to float32, the model's precision, and
    upcast once to float64 for scoring."""
    ids, lang_of = char_ngrams(
        *codepoints(pd.Series([lang_training_text(l) for l in LANGS]))[:2], NGRAM, _MASK
    )
    profiles = np.zeros((len(LANGS), DIM), dtype=np.float64)
    np.add.at(profiles, (lang_of, ids), 1.0)
    k = 0.5  # add-k smoothing
    counts = profiles + k
    logp = np.log(counts / counts.sum(axis=1, keepdims=True))
    return logp.astype(np.float32).astype(np.float64)


def predict_batch(texts: pd.Series) -> pd.DataFrame:
    """Batch predict -> DataFrame(langid: str, langid_conf: float64).

    Whole-batch vectorization: every document's codepoints are
    concatenated into ONE uint32 array (``mix.codepoints``); trigram
    hashing (``mix.char_ngrams``), per-doc per-language scoring
    (bincount with log-prob weights), the CJK script shortcut, softmax
    and argmax are all array ops — zero per-document python in the
    scoring path.

    conf is the softmax posterior of the winning language over the
    per-ngram-normalized class log-likelihoods; CJK-dominated docs
    take the script-unique shortcut (standard langid practice).
    """
    n = len(texts)
    langs = np.full(n, "und", dtype=object)
    confs = np.zeros(n, dtype=np.float64)
    logp = _train()
    cp, doc_of, doc_lens = codepoints(texts)

    # CJK ratio per doc (script-unique shortcut); skip the weighted
    # bincount entirely for the common all-non-CJK batch
    cjk_ratio = np.zeros(n)
    is_cjk = (cp >= 0x4E00) & (cp <= 0x9FFF)
    if is_cjk.any():
        cjk_sum = np.bincount(doc_of, weights=is_cjk.astype(np.float64), minlength=n)
        cjk_ratio = np.divide(
            cjk_sum, np.maximum(doc_lens, 1), where=doc_lens > 0, out=np.zeros(n),
        )

    ids, tri_doc = char_ngrams(cp, doc_of, NGRAM, _MASK)
    tri_counts = np.bincount(tri_doc, minlength=n).astype(np.float64)
    scores = np.empty((n, len(LANGS)), dtype=np.float64)
    for l in range(len(LANGS)):
        scores[:, l] = np.bincount(tri_doc, weights=logp[l][ids], minlength=n)
    with np.errstate(invalid="ignore", divide="ignore"):
        scores = scores / np.maximum(tri_counts, 1.0)[:, None]
    scores -= scores.max(axis=1, keepdims=True)
    p = np.exp(scores * 8.0)
    p /= p.sum(axis=1, keepdims=True)
    best = np.argmax(p, axis=1)
    has_tri = tri_counts > 0
    langs[has_tri] = np.array(LANGS, dtype=object)[best[has_tri]]
    confs[has_tri] = p[np.arange(n), best][has_tri]

    # script shortcut overrides the n-gram vote
    zh_mask = cjk_ratio >= 0.30
    langs[zh_mask] = "zh"
    confs[zh_mask] = 0.5 + cjk_ratio[zh_mask] / 2.0
    return pd.DataFrame({"langid": langs, "langid_conf": confs})
