"""Text analysis operators: token counting, quality scoring, document
fingerprinting, language heuristics — all pure Column expressions
(JVM, codegen) with DuckDB-oracle-compatible semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .rules import sliding, tokens_col

# BPE-ish subword proxy: runs of letters, runs of digits, or single
# non-space symbols — a deterministic regex both Spark and DuckDB can
# evaluate identically.
BPE_TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def ws_token_count_col(text: Column) -> Column:
    return F.size(tokens_col(text))


def bpe_token_count_col(text: Column) -> Column:
    """Count of BPE-ish tokens = total length minus whitespace minus
    intra-run continuation chars... computed directly as the number of
    regexp matches via regexp_count (Spark >= 3.5)."""
    return F.regexp_count(text, F.lit(BPE_TOKEN_REGEX))


def with_token_counts(df: DataFrame) -> DataFrame:
    t = F.col("text")
    return df.withColumns(
        {
            "n_ws_tokens": ws_token_count_col(t).cast("bigint"),
            "n_bpe_tokens": bpe_token_count_col(t).cast("bigint"),
            "n_chars": F.length(t).cast("bigint"),
        }
    )


def quality_score_col(text: Column) -> Column:
    """Composite [0,1] quality score from length/punct/stopword
    signals — a cheap pre-filter ranking (Gopher-style), fully
    SQL-expressible.

    score = 0.4*len_score + 0.3*alpha_ratio + 0.3*(1-symbol_ratio)
    where len_score saturates at 200 words.  NULL text scores NULL
    (code-review r4c5 finding #8: size(NULL tokens) is -1, which used
    to yield a plausible ~0.298 that ranked NULL docs alongside real
    low-quality text).  The symbol class is rules.SYMBOL_CLASS — the
    SAME constant the keep/drop gate uses (finding #9: a drifted
    inline copy would make quality_score disagree with
    rule_symbol_ratio on the same document).
    """
    from .rules import SYMBOL_CLASS

    toks = tokens_col(text)
    n_words = F.size(toks)
    len_score = F.least(n_words / F.lit(200.0), F.lit(1.0))
    n_chars = F.length(text)
    n_sym = n_chars - F.length(F.regexp_replace(text, SYMBOL_CLASS, ""))
    sym_ratio = F.when(n_chars > 0, n_sym / n_chars).otherwise(F.lit(0.0))
    n_alpha = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
    alpha_ratio = F.when(n_words > 0, n_alpha / n_words).otherwise(F.lit(0.0))
    return F.when(
        text.isNull(), F.lit(None).cast("double")
    ).otherwise(
        F.lit(0.4) * len_score + F.lit(0.3) * alpha_ratio + F.lit(0.3) * (1 - sym_ratio)
    )


def dup_ngram_fraction_col(text: Column) -> Column:
    """Gopher-style repetition signal: fraction of word 2-gram
    OCCURRENCES that are repeats of an earlier occurrence
    ((total - distinct) / total; 0.0 when fewer than 2 words).
    Fully SQL-expressible -> DuckDB oracle.
    """
    grams = sliding(tokens_col(text), 2, lambda *t: F.concat_ws(" ", *t))
    total = F.size(grams)
    return (
        F.when(total > 0, (total - F.size(F.array_distinct(grams))) / total)
        .otherwise(F.lit(0.0))
        .cast("double")
    )


def content_fingerprint_col(text: Column) -> Column:
    """Stable whole-document content fingerprint: md5 of
    whitespace-normalized lowercased text (normalization makes the
    fingerprint robust to whitespace-only edits)."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.md5(norm)


def winnowing_fingerprints_col(text: Column, hash_fn=None) -> Column:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    hash every 5-gram of words, keep the min hash of each sliding
    window of 4 k-gram hashes, return the distinct selected hashes.

    Pure Column algebra. Guarantees: any shared run of >= 8 words
    between two docs yields a shared fingerprint.

    `hash_fn` maps a string Column (the space-joined k-gram) to an
    integer Column. Default is xxhash64 — the fast JVM production
    hash. The registry oracle passes sketches.md5_prefix_hash(s, 8)
    instead so DuckDB can replay the exact fingerprints cross-engine;
    the selection algebra (k-gram, sliding min, distinct-sort) is
    hash-agnostic and identical on both paths. Both the k-gram pass
    and the sliding-min pass are rules.sliding.
    """
    if hash_fn is None:
        hash_fn = F.xxhash64
    # tokens_col, not a raw split: split('', '\s+') yields [''] so an
    # empty/whitespace-only doc would fingerprint the empty string —
    # a doc with no tokens must emit NO fingerprints (fuzz-found: the
    # DuckDB oracle correctly emits none)
    k, window = 5, 4
    toks = tokens_col(F.lower(text))
    n = F.size(toks)
    grams = sliding(toks, k, lambda *t: hash_fn(F.concat_ws(" ", *t)))
    kh = F.when(n < k, F.array(hash_fn(F.concat_ws(" ", toks)))).otherwise(grams)
    mins = sliding(kh, window, F.least)
    out = F.when(F.size(kh) < window, F.array(F.array_min(kh))).otherwise(mins)
    empty = F.array().cast("array<bigint>")
    return F.when(n == 0, empty).otherwise(F.array_sort(F.array_distinct(out)))


_GOPHER_TOP_NS = (2, 3, 4)
_GOPHER_DUP_NS = (5, 10)


def gopher_repetition_signals(df: DataFrame) -> DataFrame:
    """The Gopher repetition-filter signal family (Rae et al. 2021,
    §A1.1), character-fraction forms:

    * ``top_{n}gram_char_frac`` — chars of the single most frequent
      word n-gram times its frequency, over total doc chars (Gopher
      gates n=2,3,4 at 0.20/0.18/0.16);
    * ``dup_{n}gram_char_frac`` — chars of ALL occurrences of every
      n-gram that occurs more than once, over total doc chars
      (Gopher gates n=5..10 at 0.15 down to 0.10).

    Char length is the space-joined n-gram string length (the
    datatrove/NeMo-Curator convention); occurrences are counted
    without positional-overlap union, so fractions can exceed 1.0 on
    degenerate periodic text — deterministic on both engines, and the
    gate direction is unaffected. Ties for the top n-gram break by
    (count, gram) descending on both engines. Docs with fewer than n
    tokens score 0 for that n.

    Scale shape: the doc is exploded once per n (token-linear, no
    distinct-blowup) and the counts run as ONE shuffle keyed on
    (id, n, gram) followed by one keyed on id — both uniform keys;
    per-row HOF counting of gram frequencies is exactly the
    captured-array-in-lambda O(n * distinct) pattern this repo bans
    (see rules.sliding), hence the explode + groupBy form.
    """
    toks = tokens_col(F.lower(F.col("text")))
    base = df.select(
        F.col("doc_id"), F.length("text").cast("double").alias("_nc"), toks.alias("_tk")
    )
    parts = []
    for n in sorted(set(_GOPHER_TOP_NS) | set(_GOPHER_DUP_NS)):
        grams = sliding(F.col("_tk"), n, lambda *t: F.concat_ws(" ", *t))
        parts.append(
            base.select(
                "doc_id", F.lit(n).alias("_n"), F.explode(grams).alias("_gram")
            )
        )
    g = parts[0]
    for p in parts[1:]:
        g = g.unionByName(p)
    counts = g.groupBy("doc_id", "_n", "_gram").agg(F.count(F.lit(1)).alias("_cnt"))
    per_n = counts.groupBy("doc_id", "_n").agg(
        F.max(F.struct("_cnt", "_gram")).alias("_top"),
        F.sum(
            F.when(F.col("_cnt") >= 2, F.col("_cnt") * F.length("_gram")).otherwise(0)
        ).alias("_dupchars"),
    )
    top_chars = F.col("_top._cnt") * F.length(F.col("_top._gram"))
    aggs = []
    for n in _GOPHER_TOP_NS:
        aggs.append(
            F.max(F.when(F.col("_n") == n, top_chars)).alias(f"_topc_{n}")
        )
    for n in _GOPHER_DUP_NS:
        aggs.append(
            F.max(F.when(F.col("_n") == n, F.col("_dupchars"))).alias(f"_dupc_{n}")
        )
    wide = per_n.groupBy("doc_id").agg(*aggs)
    out = base.select("doc_id", "_nc").join(wide, "doc_id", "left")
    cols = [F.col("doc_id")]
    for n in _GOPHER_TOP_NS:
        frac = F.coalesce(F.col(f"_topc_{n}"), F.lit(0)) / F.greatest(
            F.col("_nc"), F.lit(1.0)
        )
        cols.append(frac.cast("double").alias(f"top_{n}gram_char_frac"))
    for n in _GOPHER_DUP_NS:
        frac = F.coalesce(F.col(f"_dupc_{n}"), F.lit(0)) / F.greatest(
            F.col("_nc"), F.lit(1.0)
        )
        cols.append(frac.cast("double").alias(f"dup_{n}gram_char_frac"))
    return out.select(*cols)


def nfc_canon(t: str | None) -> str | None:
    """Full text canonical form: strip NUL (web mojibake; also
    DuckDB's nfc_normalize C-truncates at \\x00), NFC, lowercase,
    NFC AGAIN, collapse whitespace, trim.

    The second NFC is load-bearing: lowercasing can DE-normalize —
    e.g. 'J\\u030C' (J + combining caron, NFC-stable because no
    precomposed uppercase exists) lowers to 'j\\u030C', whose
    precomposed form U+01F0 does exist. Without the re-normalize,
    canon is not idempotent and 'J\\u030C' never collides with a
    precomposed 'ǰ' — the exact equivalence-class split the canonical
    form exists to prevent (pinned by tests/test_fixed_points.py).
    """
    import re
    import unicodedata

    if t is None:
        return None
    t = unicodedata.normalize("NFC", t.replace("\x00", ""))
    t = unicodedata.normalize("NFC", t.lower())
    # ASCII whitespace class + space-only trim: the repo's pinned
    # cross-engine dialect (Spark \s and trim() are ASCII/space-only;
    # Python re's \s and str.strip are Unicode-wide — using them here
    # would split from the DuckDB oracle on NBSP/U+2028 inputs)
    return re.sub(r"[ \t\n\v\f\r]+", " ", t).strip(" ")
