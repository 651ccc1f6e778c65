"""The deterministic numpy hashes shared by every kernel.  One
definition each: a typo in any inline copy silently changes that
consumer's "deterministic" output (code-review r4c4 finding #9 — five
identical copies of splitmix64 existed).

* ``splitmix64`` — the integer-stream mix (minhash seed family, LSH
  hyperplanes, IVF init ranking, synthetic corpus, perplexity feature
  hashing).  Constants are splitmix64's published finalizer (Steele et
  al. 2014, as in Vigna's public-domain reference implementation).
* ``codepoints`` + ``char_ngrams`` — the hashed char-n-gram featurizer
  of langid (trigrams) and the quality classifier (4-grams), used for
  training and scoring alike, so a model never scores with features it
  was not trained on.  FNV-1a over uint32 lanes: stable across
  platforms and Python versions (never Python ``hash()``:
  PYTHONHASHSEED would break determinism)."""

from __future__ import annotations

import numpy as np
import pandas as pd

GOLDEN_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_C1 = np.uint64(0xBF58476D1CE4E5B9)
_C2 = np.uint64(0x94D049BB133111EB)

_FNV_PRIME = np.uint32(16777619)
_FNV_OFFSET = np.uint32(2166136261)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 FINALIZER over uint64 (no increment —
    callers that need the sequence form add GOLDEN_GAMMA first)."""
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * _C1
        x = (x ^ (x >> np.uint64(27))) * _C2
        return x ^ (x >> np.uint64(31))


def codepoints(texts: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(cp, doc_of, doc_lens) of a batch: the lowercased texts (NULL as
    "") joined by NUL as ONE uint32 codepoint array, the doc owning
    each codepoint, and each doc's length in codepoints.

    One C-level encode for the whole batch: utf-32-le has no BOM and
    len(str) is the codepoint count, so the per-doc offsets need no
    per-doc encode.  doc_of via repeat is O(total): doc i owns its own
    codepoints plus its trailing NUL separator."""
    texts_list = [t.lower() for t in texts.fillna("")]
    n = len(texts_list)
    doc_lens = np.fromiter(map(len, texts_list), dtype=np.int64, count=n)
    cp = np.frombuffer("\x00".join(texts_list).encode("utf-32-le"), dtype=np.uint32)
    widths = doc_lens + 1
    widths[-1:] -= 1
    return cp, np.repeat(np.arange(n, dtype=np.int64), widths), doc_lens


def char_ngrams(
    cp: np.ndarray, doc_of: np.ndarray, n: int, mask: int
) -> tuple[np.ndarray, np.ndarray]:
    """(ids, gram_doc): FNV-1a hash of every n-codepoint window of
    ``codepoints`` output, ANDed with ``mask``, and the doc it lies in.
    Windows that cross a doc boundary or hold a NUL are dropped; both
    are empty when the batch has fewer than n codepoints."""
    m = len(cp) - n + 1
    if m <= 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    h = np.full(m, _FNV_OFFSET, dtype=np.uint32)
    with np.errstate(over="ignore"):
        for k in range(n):
            h = (h ^ cp[k : m + k]) * _FNV_PRIME
    ids = (h & np.uint32(mask)).astype(np.int64)
    valid = doc_of[:m] == doc_of[n - 1 :]
    nul = cp == 0
    if nul.any():
        bad = nul[:m].copy()
        for k in range(1, n):
            bad |= nul[k : m + k]
        valid &= ~bad
    return ids[valid], doc_of[:m][valid]
