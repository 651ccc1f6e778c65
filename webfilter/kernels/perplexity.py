"""KenLM-style n-gram perplexity on hashed word bigrams.

Model: interpolated bigram/unigram LM over a 2**16-dim hashed word
space, trained deterministically on first use from the embedded English
corpus. ppl(doc) = exp(-mean log P(w_i | w_{i-1})) with
P = lam * P_bigram + (1-lam) * P_unigram_smoothed, so unseen words /
incoherent sequences score high.

Vectorization contract (the north rule's "batched hashed n-gram
counts, no per-row Python"): the whole Arrow batch is lowered into
ONE numpy byte array; word boundaries, per-word hashes, bigram keys,
table lookups and per-doc reductions are all array ops. The only
per-document python is ``str.lower()``.

Word hash = splitmix64(first 8 utf-8 bytes ^ byte_length<<56).
Prefix collisions are part of the model (it is a hashed-vocabulary
LM); determinism and train/score consistency are what matter.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd

from .corpora import lang_training_text

DIM = 1 << 16
_MASK = np.uint64(DIM - 1)

# ASCII whitespace byte values (utf-8 multibyte sequences never
# contain these, so byte-level splitting is utf-8-safe)
_WS = (9, 10, 11, 12, 13, 32)


def _word_spans(b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(starts, ends) of non-whitespace runs in a uint8 array."""
    isws = np.isin(b, _WS)
    nonws = ~isws
    prev = np.concatenate(([False], nonws[:-1]))
    starts = np.flatnonzero(nonws & ~prev)
    nxt = np.concatenate((nonws[1:], [False]))
    ends = np.flatnonzero(nonws & ~nxt) + 1
    return starts, ends


def _hash_spans(b: np.ndarray, starts: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """splitmix64 of (first-8-bytes ^ len<<56) for each [start,end)."""
    n = len(starts)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    lens = (ends - starts).astype(np.uint64)
    take = np.minimum(lens, 8).astype(np.int64)
    idx = starts[:, None] + np.arange(8)[None, :]
    valid = np.arange(8)[None, :] < take[:, None]
    idx = np.minimum(idx, len(b) - 1)
    mat = np.where(valid, b[idx], 0).astype(np.uint8)
    h = np.ascontiguousarray(mat).view(np.uint64).ravel()
    from .mix import GOLDEN_GAMMA, splitmix64

    with np.errstate(over="ignore"):
        x = splitmix64(h ^ (lens << np.uint64(56)) ^ GOLDEN_GAMMA)
    return (x & _MASK).astype(np.int64)


def _batch_token_ids(texts: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """One pass over the whole batch: (word_hash_ids, doc_of_word)."""
    bs = [t.lower().encode("utf-8") for t in texts]
    joined = b" ".join(bs)
    b = np.frombuffer(joined, dtype=np.uint8)
    starts, ends = _word_spans(b)
    ids = _hash_spans(b, starts, ends)
    offsets = np.cumsum([0] + [len(x) + 1 for x in bs])  # +1 for sep
    doc_of = np.searchsorted(offsets, starts, side="right") - 1
    return ids, doc_of


def tokenize(text: str) -> list[str]:
    """Kept as the reference tests/test_kernels.py checks the word split against.

    Reference tokenizer (whitespace split, lowercased) — the
    byte-level batch path implements exactly this for ASCII-ws text."""
    return text.lower().split()


@functools.cache
def _train() -> tuple[np.ndarray, np.ndarray, np.ndarray, float]:
    """Trained once per process on first scoring call, as every kernel
    model is (ADVICE r3): import-time training added fixed startup
    latency to every executor python worker even when the scorer was
    unused (code-review r4c11 finding #7)."""
    ids, _ = _batch_token_ids([lang_training_text("en")])
    uni = np.bincount(ids, minlength=DIM).astype(np.float64)
    k = 0.1
    log_uni = np.log((uni + k) / (uni.sum() + k * DIM))
    # bigram table as sorted key array (a<<16|b) + prob array, so
    # batch lookup is one vectorized searchsorted instead of a dict.
    keys = (ids[:-1].astype(np.int64) << 16) | ids[1:].astype(np.int64)
    uk, counts = np.unique(keys, return_counts=True)
    probs = counts / np.maximum(uni[(uk >> 16)], 1.0)
    floor = float(np.log(k / (uni.sum() + k * DIM)))
    return log_uni.astype(np.float64), uk, probs.astype(np.float64), floor


_LAM = 0.7


def _lookup_bigram(keys: np.ndarray) -> np.ndarray:
    _lu, bi_keys, bi_probs, _f = _train()
    pos = np.searchsorted(bi_keys, keys)
    pos = np.minimum(pos, len(bi_keys) - 1)
    hit = bi_keys[pos] == keys
    return np.where(hit, bi_probs[pos], 0.0)


def score_batch(texts: pd.Series) -> pd.Series:
    """Batch perplexity -> float64 Series. Docs with <2 tokens get the
    max penalty exp(-floor)."""
    texts = texts.fillna("")
    n_docs = len(texts)
    log_uni, _bk, _bp, floor = _train()
    out = np.full(n_docs, float(np.exp(-floor)), dtype=np.float64)
    if n_docs == 0:
        return pd.Series(out)
    ids, doc_of = _batch_token_ids(list(texts))
    if len(ids) > 1:
        lens = np.bincount(doc_of, minlength=n_docs)
        same_doc = doc_of[:-1] == doc_of[1:]
        li = np.flatnonzero(same_doc)
        keys = (ids[li] << 16) | ids[li + 1]
        p_bi = _lookup_bigram(keys)
        p_uni = np.exp(log_uni[ids[li + 1]])
        logp = np.log(np.maximum(_LAM * p_bi + (1.0 - _LAM) * p_uni, np.exp(floor)))
        # bincount is the fast scatter-add (np.add.at is ~10x slower)
        sums = np.bincount(doc_of[li], weights=logp, minlength=n_docs)
        ok = lens >= 2
        npairs = np.maximum(lens - 1, 1)
        out[ok] = np.exp(-(sums[ok] / npairs[ok]))
    return pd.Series(out)
