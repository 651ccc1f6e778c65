"""Pure-python mirror of the Column-expression heuristic rules
(webfilter/rules.py) — the independent oracle used by the golden-label
generator and the pytest parity suite. Keep the two in lock-step; the
parity test (tests/test_rules.py) enforces it.
"""

from __future__ import annotations

import re

from .corpora import EN_STOPWORDS

# re.ASCII pins \s to [ \t\n\r\f\x0b] — exactly Java's default \s
# (what Spark's split uses) and a superset-of-RE2 contract the DuckDB
# oracles mirror with an explicit class. Without it, Python's
# Unicode-aware \s would tokenize U+2028/U+2029/Unicode-space text
# differently from the JVM/RE2 engines (three-way parity would lie).
SYMBOL_RE = re.compile(r"[#$%^&*|~{}<>=+_\\]")
ALPHA_RE = re.compile(r"[A-Za-z]")
WS_RE = re.compile(r"\s+", re.ASCII)

_STOPSET = frozenset(EN_STOPWORDS)

# The thresholds, kept apart from rules.py's on purpose: this mirror is
# the independent oracle the golden labels come from.
MIN_WORDS = 50
MAX_WORDS = 100_000
MIN_CHARS = 110
MEAN_WORD_LEN_LO = 2.0
MEAN_WORD_LEN_HI = 12.0
MAX_SYMBOL_RATIO = 0.10
MIN_DISTINCT_STOPWORDS = 2
MIN_ALPHA_TOKEN_RATIO = 0.70
MAX_DUP_LINE_RATIO = 0.30


def stats(text: str) -> dict[str, float]:
    # maximal non-whitespace runs of the RAW text (empties dropped) —
    # in lock-step with rules.tokens_col and the DuckDB oracle _TOKS;
    # the previous str.strip() was Unicode-aware (strips NBSP etc.)
    # where the JVM/RE2 engines are not, so the three-way parity held
    # only on whitespace-clean fixtures
    toks = [t for t in WS_RE.split(text) if t]
    n_words = len(toks)
    n_chars = len(text)
    mean_wl = (sum(len(t) for t in toks) / n_words) if n_words else 0.0
    n_sym = len(SYMBOL_RE.findall(text))
    sym_ratio = (n_sym / n_chars) if n_chars else 0.0
    n_stop = len({t.lower() for t in toks} & _STOPSET)
    n_alpha = sum(1 for t in toks if ALPHA_RE.search(t))
    alpha_ratio = (n_alpha / n_words) if n_words else 0.0
    lines = text.split("\n")
    dup_ratio = (len(lines) - len(set(lines))) / len(lines) if lines else 0.0
    return {
        "n_words": n_words,
        "n_chars": n_chars,
        "mean_word_len": mean_wl,
        "symbol_ratio": sym_ratio,
        "n_stopwords": n_stop,
        "alpha_ratio": alpha_ratio,
        "dup_line_ratio": dup_ratio,
    }


def heuristic_reasons(text: str) -> list[str]:
    s = stats(text)
    reasons = []
    if not s["n_words"] >= MIN_WORDS:
        reasons.append("min_words")
    if not s["n_words"] <= MAX_WORDS:
        reasons.append("max_words")
    if not s["n_chars"] >= MIN_CHARS:
        reasons.append("min_chars")
    if not (MEAN_WORD_LEN_LO <= s["mean_word_len"] <= MEAN_WORD_LEN_HI):
        reasons.append("mean_word_len")
    if not s["symbol_ratio"] <= MAX_SYMBOL_RATIO:
        reasons.append("symbol_ratio")
    if not s["n_stopwords"] >= MIN_DISTINCT_STOPWORDS:
        reasons.append("stopwords")
    if not s["alpha_ratio"] >= MIN_ALPHA_TOKEN_RATIO:
        reasons.append("alpha_ratio")
    if not s["dup_line_ratio"] <= MAX_DUP_LINE_RATIO:
        reasons.append("dup_lines")
    return reasons
