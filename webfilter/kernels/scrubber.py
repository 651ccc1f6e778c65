"""Compiled-regex PII/toxicity scrub pass.

This fills the reference's unimplemented "TODO: Add redactions"
(databricks/retriever/pubmed_wf/03_Curate_Articles.py:10). One ordered
pattern list drives three consumers that must agree byte-for-byte:

1. this module's ``scrub_texts`` — the pipeline's default path, run
   inside the fused model-stage UDF (webfilter.scoring) — and
   ``scrub_one``/``scrub_batch``, the golden oracle used by pytest;
2. the Spark JVM-side ``regexp_replace`` chain (webfilter.scrub) —
   the pipeline's ``boilerplate=True`` path, which must scrub the
   cleaned text, and the registry's scrub queries;
3. DuckDB ``regexp_replace(..., 'g')`` in the driver's oracle SQL.

Pattern dialect rules for that three-way agreement: Java regex,
Python ``re`` and RE2 all support what we use — character classes,
bounded quantifiers, alternation, ``\\b`` word boundaries. NO
lookbehind/lookahead, NO backreferences (RE2 has neither).

Order matters: SSN before PHONE (a bare 3-2-4 digit group would
otherwise be eaten by a loose phone pattern); EMAIL before anything
that could match its digits.
"""

from __future__ import annotations

import re

import pandas as pd

# The "slur lexicon" stands in for a production toxicity lexicon; the
# engine only needs the mechanism (word-boundary lexicon scrub), so we
# ship a tiny list of neutral placeholder tokens plus a couple of mild
# profanities. Swappable via config at deploy time.
TOXIC_LEXICON: tuple[str, ...] = (
    "frak", "gorram", "smeghead", "belgium",
)

# (name, pattern, replacement) — applied strictly in order.
SCRUB_PATTERNS: tuple[tuple[str, str, str], ...] = (
    (
        "email",
        r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
        "<EMAIL>",
    ),
    (
        "ssn",
        r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
        "<SSN>",
    ),
    (
        "phone",
        # leading \b on the bare-digit branch: without it the pattern
        # matched INSIDE longer digit runs ('serial 98765 432 1098'
        # -> 'serial 98<PHONE>'), destroying non-PII text (code-review
        # r4c11 finding #1; the SSN/CC patterns already anchor). The
        # optional '1 ' country code needs a '+' or a \b too: bare, it
        # took the last digit of a preceding card number or IP
        # ('3051-3051-3051-3051 452-452-3044' -> '...305<PHONE>', the
        # card then leaking past the credit_card pattern)
        r"(?:(?:\+|\b)1[ .\-])?(?:\([0-9]{3}\)[ .\-]?|\b[0-9]{3}[ .\-])[0-9]{3}[ .\-][0-9]{4}\b",
        "<PHONE>",
    ),
    (
        "credit_card",
        r"\b[0-9]{4}[ \-][0-9]{4}[ \-][0-9]{4}[ \-][0-9]{4}\b",
        "<CC>",
    ),
    (
        "ipv4",
        r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
        "<IP>",
    ),
    (
        "toxic",
        r"(?i)\b(?:" + "|".join(TOXIC_LEXICON) + r")\b",
        "<TOXIC>",
    ),
)

# Word-boundary dialect (verified empirically, tests/test_kernels.py
# ::test_scrub_parity_tricky_boundaries): Java's \b is Unicode-aware
# even though its \w is ASCII, and Python's DEFAULT \b is likewise
# Unicode-aware — so the default compile makes Python == Spark on
# text like 'café555-12-3456' (é blocks the boundary in both). RE2
# (DuckDB oracle) uses an ASCII \b and can diverge there; the oracle
# corpus is asserted boundary-clean, and the authoritative pair at
# deploy time is Spark + this Python golden kernel. (\s never appears
# in these patterns — whitespace is always an explicit class.)
# Separator-LESS forms ('5551234567', '555123456', 16 bare digits)
# deliberately pass through: a bare digit run is ambiguous (ids,
# serials, timestamps), and redacting them would corrupt far more
# legitimate text than the PII it catches — the classic
# precision/recall trade the scrub stage takes on the precision side
# (code-review r4c11 finding #5: documented, not an oversight).
_COMPILED = [(name, re.compile(pat), repl) for name, pat, repl in SCRUB_PATTERNS]


def scrub_one(text: str | None) -> tuple[str, dict[str, int]]:
    """Scrub one document; returns (scrubbed, {rule: n_hits})."""
    if text is None:
        return "", {}
    hits: dict[str, int] = {}
    for name, rx, repl in _COMPILED:
        text, n = rx.subn(repl, text)
        if n:
            hits[name] = n
    return text, hits


def scrub_batch(texts: pd.Series) -> pd.DataFrame:
    """Vectorized-enough batch scrub (pandas .str.replace per pattern,
    which loops in C over the block) -> DataFrame(scrubbed, pii_hits)."""
    s = texts.fillna("")
    total = pd.Series(0, index=s.index, dtype="int64")
    for name, rx, repl in _COMPILED:
        total = total + s.str.count(rx)
        s = s.str.replace(rx, repl, regex=True)
    return pd.DataFrame({"scrubbed": s, "pii_hits": total})


def scrub_texts(texts: pd.Series) -> pd.Series:
    """Replace-only fold — half the regex passes of scrub_batch (no
    per-rule counts). Used by the fused extract+score+scrub pipeline
    UDF (VERDICT r4 #3), where pii detection happens JVM-side as a
    cheap ``scrubbed != original`` comparison. Byte-identical output
    to scrub_one/scrub_batch by construction (same compiled patterns,
    same order, same NULL->'' contract)."""
    s = texts.fillna("")
    for _name, rx, repl in _COMPILED:
        s = s.str.replace(rx, repl, regex=True)
    return s
