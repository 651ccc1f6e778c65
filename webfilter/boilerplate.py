"""jusText-style block-level boilerplate classification.

Pomikalek 2011 ("Removing Boilerplate and Duplicate Content from Web
Corpora", the jusText algorithm): segment a page into text blocks,
classify each block context-free from three cheap features — link
density, stopword density, length — then re-classify the ambiguous
middle classes (``short``, ``neargood``) from their nearest
unambiguous neighbours, because boilerplate (nav bars, footers,
related-links rails) clusters together while body text clusters
together. This module is the simplified deterministic variant
("jusText-lite"): the four raw classes and both feature definitions
follow the paper; the context pass uses the uniform rule *an
ambiguous block is good iff its nearest unambiguous neighbour on
either side is good* (full jusText additionally distinguishes
short-between-good-and-neargood sub-cases).

Reference precedent: the reference curates structured article XML
where boilerplate is delimited by markup (biomed_genai
``python/biomed_genai/workflow/pubmed_wf/pmc.py`` strips front/back
matter and keeps ``<body>`` section text); on the open web those
boundaries do not exist and must be recovered statistically — this
is the corresponding stage for Common-Crawl-style pages.

Scale shape: feature extraction and raw classification are pure
Column expressions (narrow, whole-stage codegen); the context pass
is two window frames over one ``(doc_id)`` partitioning — Catalyst
plans a single Exchange + sort reused by both Window operators.
``doc_id`` is a uniform key (one group per document, tens of blocks
each), so the shuffle neither skews nor widens: at 10^12 documents
this is one well-balanced hash shuffle of (doc_id, block features)
rows, strictly cheaper than the near-dup banding joins that follow
it in the pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .kernels.corpora import EN_STOPWORDS
from .rules import tokens_col

#: blocks shorter than this many characters are ambiguous ("short");
#: jusText's length_low analog, tuned for the ~45-char synthetic
#: blocks (jusText's 70 assumes real-web paragraph lengths)
LENGTH_LOW = 25
#: above this fraction of characters inside link tokens -> bad
#: (jusText default max_link_density)
MAX_LINK_DENSITY = 0.2
#: stopword density >= high -> good; >= low -> neargood; else bad
STOP_HIGH = 0.30
STOP_LOW = 0.12


def link_chars_col(toks: Column) -> Column:
    """Total characters inside link tokens (tokens that ARE a URL:
    ``http://`` / ``https://`` prefix) — the plain-text stand-in for
    jusText's anchor-char count, which needs markup this pipeline
    has already extracted away (WET-style text keeps bare URLs)."""
    return F.aggregate(
        F.filter(
            toks,
            lambda x: x.startswith("http://") | x.startswith("https://"),
        ),
        F.lit(0),
        lambda acc, x: acc + F.length(x),
    )


def stopword_count_col(toks: Column) -> Column:
    """Occurrences (not distinct types) of lowercased tokens in the
    ASCII stopword lexicon — jusText counts occurrences, unlike the
    doc-level heuristic gate (rules.py) which wants distinct types.
    The ``isin`` literal set is a constant JVM In-expression, not a
    captured per-row array (the HOF-CSE trap bigram_counts bans)."""
    return F.size(F.filter(toks, lambda x: F.lower(x).isin(*EN_STOPWORDS)))


def block_features(line: Column) -> dict[str, Column]:
    """Per-block feature Columns keyed by output name. Densities are
    guarded divisions (empty blocks -> 0.0, never ANSI 0/0): the
    module contract admits arbitrary block text, including the empty
    blocks a ``split(text, '\\n')`` emits for blank lines."""
    toks = tokens_col(line)
    n_chars = F.length(line)
    n_toks = F.size(toks)
    link_density = F.when(
        n_chars > 0, link_chars_col(toks) / n_chars
    ).otherwise(F.lit(0.0))
    stop_density = F.when(
        n_toks > 0, stopword_count_col(toks) / n_toks
    ).otherwise(F.lit(0.0))
    return {
        "n_chars": n_chars.cast("bigint"),
        "n_tokens": n_toks.cast("bigint"),
        "link_density": link_density,
        "stop_density": stop_density,
    }


def classify_raw(
    n_chars: Column, link_density: Column, stop_density: Column
) -> Column:
    """Context-free jusText classification. Order matters and follows
    the paper: a link-heavy block is bad even when short."""
    return (
        F.when(link_density > F.lit(MAX_LINK_DENSITY), F.lit("bad"))
        .when(n_chars < F.lit(LENGTH_LOW), F.lit("short"))
        .when(stop_density >= F.lit(STOP_HIGH), F.lit("good"))
        .when(stop_density >= F.lit(STOP_LOW), F.lit("neargood"))
        .otherwise(F.lit("bad"))
    )


def _sep_pattern(sep: str) -> str:
    """``sep`` is a LITERAL separator everywhere in this module —
    F.split takes a Java regex, so quote it (\\Q..\\E); without this a
    sep like '|' or '.' split between every character while
    array_join re-joined with the literal, corrupting the cleaned
    text (code-review r4c6 finding #3)."""
    return "\\Q" + sep + "\\E"


def justext_blocks(df: DataFrame, sep: str = "\n") -> DataFrame:
    """Classify every ``sep``-separated block of ``text``.

    Returns one row per block: (id, block_id, n_chars, n_tokens,
    link_density, stop_density, cls_raw, cls_final). ``cls_raw`` is
    the context-free class; ``cls_final`` collapses to good/bad via
    the neighbour rule — unambiguous blocks keep their class, short/
    neargood blocks become good iff the nearest good/bad block on
    either side (within the document) is good, with document edges
    counting as bad (jusText's edge convention).

    One hash shuffle on ``doc_id``; the preceding- and following-
    frame windows share its partitioning and sort order, so Catalyst
    emits a single Exchange for both.

    NULL-text docs derive NO block rows (split(NULL) is NULL; the
    repo-wide zero-content contract) — join consumers read absence
    as n_blocks=0, the same convention as the dedup signature
    tables."""
    blk = df.select(
        F.col("doc_id"),
        F.posexplode(
            F.split(F.col("text"), _sep_pattern(sep))
        ).alias("block_id", "_line"),
    )
    feats = block_features(F.col("_line"))
    blk = blk.select(
        "doc_id",
        "block_id",
        *[c.alias(n) for n, c in feats.items()],
    ).withColumn(
        "cls_raw",
        classify_raw(
            F.col("n_chars"), F.col("link_density"), F.col("stop_density")
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("block_id")
    edge = F.when(F.col("cls_raw").isin("good", "bad"), F.col("cls_raw"))
    prev_ctx = F.last(edge, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    next_ctx = F.first(edge, ignorenulls=True).over(
        w.rowsBetween(1, Window.unboundedFollowing)
    )
    good_nbr = (F.coalesce(prev_ctx, F.lit("bad")) == "good") | (
        F.coalesce(next_ctx, F.lit("bad")) == "good"
    )
    return blk.withColumn(
        "cls_final",
        F.when(F.col("cls_raw").isin("good", "bad"), F.col("cls_raw"))
        .when(good_nbr, F.lit("good"))
        .otherwise(F.lit("bad")),
    )


def _raw_class_of_block(b: Column) -> Column:
    """Context-free class of ONE block string: block_features +
    classify_raw as a lambda body (each feature references only the
    element, so no captured-array re-evaluation)."""
    f = block_features(b)
    return classify_raw(f["n_chars"], f["link_density"], f["stop_density"])


def _scan_last_unambiguous(codes: Column) -> Column:
    """Prefix scan: element i of the result is the last good/bad
    class STRICTLY BEFORE position i, defaulting to 'bad' (the
    document-edge convention). F.aggregate evaluates left-to-right,
    so carrying (emitted-array, last-seen) through the fold is a
    linear scan per document — blocks per doc are tens, so the
    array-concat accumulator costs nothing that matters."""
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit("bad").alias("last"),
    )
    return F.aggregate(
        codes,
        init,
        lambda acc, c: F.struct(
            F.concat(acc["out"], F.array(acc["last"])).alias("out"),
            F.when(c.isin("good", "bad"), c).otherwise(acc["last"]).alias("last"),
        ),
        lambda acc: acc["out"],
    )


def _final_from_codes(codes: Column) -> Column:
    """Final good/bad classes from a PRECOMPUTED raw-class array —
    the core of the map-only context pass, factored so df-level
    callers can stage ``codes`` in a real column once instead of
    re-deriving the expensive per-block classification in every
    subtree (code-review r4c6 finding #5)."""
    prev = _scan_last_unambiguous(codes)
    nxt = F.reverse(_scan_last_unambiguous(F.reverse(codes)))
    ctx_good = F.zip_with(prev, nxt, lambda p, n: (p == "good") | (n == "good"))
    return F.zip_with(
        codes,
        ctx_good,
        lambda c, g: F.when(c.isin("good", "bad"), c)
        .when(g, F.lit("good"))
        .otherwise(F.lit("bad")),
    )


def final_classes_col(text: Column) -> Column:
    """Kept as the class-level reference tests/test_boilerplate.py
    compares with the window form.

    Array of final good/bad classes for the newline-separated
    blocks of ``text`` — the MAP-ONLY form of the jusText context
    pass (with_boilerplate_removed stages the same pass). The window form (justext_blocks) shuffles once on doc_id
    because its output is per-block rows; when the consumer only
    needs the per-document cleaned text, the whole scan lives inside
    the row (prefix scan forward + prefix scan over the reversed
    array), so boilerplate removal composes into the filter pipeline
    WITHOUT adding an Exchange. Equality with the window form is
    pytest-proven block-for-block."""
    blocks = F.split(text, _sep_pattern("\n"))
    return _final_from_codes(F.transform(blocks, _raw_class_of_block))


def with_boilerplate_removed(
    df: DataFrame, text_col: str = "text", sep: str = "\n"
) -> DataFrame:
    """Replace ``text_col`` with its good blocks (NULL text stays
    NULL). Map-only — safe to splice into the filter pipeline
    between scoring and the heuristic rules without touching its
    Exchange budget.

    The per-block classification is staged in a real column:
    CollapseProject does not inline a non-cheap alias referenced
    more than once, so ``_bp_codes`` is computed ONCE per row instead
    of once per consuming subtree — a Column-only form re-derives it
    up to three times (code-review r4c6 finding #5), which the hot
    path must not pay."""
    pat = _sep_pattern(sep)
    staged = df.withColumn(
        "_bp_blocks", F.split(F.col(text_col), pat)
    ).withColumn(
        "_bp_codes",
        F.transform(F.col("_bp_blocks"), _raw_class_of_block),
    ).withColumn("_bp_final", _final_from_codes(F.col("_bp_codes")))
    kept = F.filter(
        F.zip_with(
            F.col("_bp_blocks"), F.col("_bp_final"),
            lambda b, c: F.when(c == "good", b),
        ),
        lambda b: b.isNotNull(),
    )
    return staged.withColumn(
        text_col,
        F.when(F.col(text_col).isNotNull(), F.array_join(kept, sep)),
    ).drop("_bp_blocks", "_bp_codes", "_bp_final")
