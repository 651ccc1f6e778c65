"""Gopher/C4-style heuristic quality rules as pure Column expressions.

Every rule is a named boolean column built exclusively from
`pyspark.sql.functions` — JVM-side, whole-stage-codegen'd, zero
Python. The composition pattern (each rule a named boolean, keep iff
all pass) follows the reference's judge gate
(databricks/model/bc_chat_ift/01_seed_generation.py:137-141,325-326);
the word-count rule itself is the reference's
``size(split(col('content'),'\\W')) >= 50``
(01_seed_generation.py:41,63) and the 110-char gate is its chunk
filter (04_Chunk_Articles_Content.py:79).

Token definition (shared with the DuckDB oracles in
webfilter/oracles.py): tokens = regexp-split of trimmed text on
``\\s+``; empty text has 0 tokens.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .kernels.corpora import EN_STOPWORDS

SYMBOL_CLASS = r"[#$%^&*|~{}<>=+_\\]"

# The rule thresholds. kernels/heuristics.py keeps its own copy of the
# heuristic ones: it is the independent oracle the golden labels come
# from, so tests/test_rules.py checks the two decide alike instead of
# sharing one definition.
MIN_WORDS = 50
MAX_WORDS = 100_000
MIN_CHARS = 110
MEAN_WORD_LEN_LO = 2.0
MEAN_WORD_LEN_HI = 12.0
MAX_SYMBOL_RATIO = 0.10
MIN_DISTINCT_STOPWORDS = 2
MIN_ALPHA_TOKEN_RATIO = 0.70
MAX_DUP_LINE_RATIO = 0.30
MAX_PERPLEXITY = 30_000.0
MIN_LANGID_CONF = 0.50
KEEP_LANGS = ("en",)


@dataclass(frozen=True)
class RuleConfig:
    """The optional gates a run switches on; every other threshold is
    a module constant."""

    # not a field, since no caller sets it: perfbench/layers.py reads
    # the langid threshold off DEFAULT_RULES
    min_langid_conf = MIN_LANGID_CONF
    # optional model-based quality gate (kernels/qualityclf.py);
    # None (default) keeps the classic rule set and golden labels
    min_quality_prob: float | None = None
    # optional host-authority gate: drop docs whose host PageRank
    # (graph.host_pagerank_from_pages, joined by the pipeline's
    # host_prior flag) is below this. Requires the host_rank column
    # to be populated — setting it auto-enables the host-prior join
    # in pipeline.filtered_frame. None (default) records host_rank
    # as lineage only (or NULL when the join is off).
    min_host_rank: float | None = None
    # optional crawl-compliance gate (webfilter/robots.py): drop docs
    # whose url a robots.txt disallows for the pipeline's agent.
    # Requires the robots_allowed column, populated by passing a
    # (host, robots_txt) frame to pipeline.filtered_frame/run_filter.
    # False (default): robots_allowed is lineage-only (or NULL when
    # no robots frame is given) and golden labels are unchanged.
    obey_robots: bool = False
    # fetch-payload byte cap (Common Crawl truncates fetches at ~1 MiB;
    # 4 MiB gives real-page headroom). Pages over the cap are dropped
    # WITHOUT their bytes ever crossing the Arrow boundary — Spark
    # slices pandas-UDF batches by RECORD COUNT (maxRecordsPerBatch),
    # not bytes, so at 10^12 pages one 1 GiB page would otherwise
    # inflate a whole batch and OOM the python worker. Gate applied in
    # pipeline.filtered_frame (html, or text on the WET path) BEFORE
    # the extract/score UDF; None disables. Default on: golden labels
    # unchanged (synthetic pages are far below the cap — tested).
    max_payload_bytes: int | None = 4_194_304


DEFAULT_RULES = RuleConfig()

# order is the canonical drop_reasons order
HEURISTIC_RULE_NAMES: tuple[str, ...] = (
    "min_words",
    "max_words",
    "min_chars",
    "mean_word_len",
    "symbol_ratio",
    "stopwords",
    "alpha_ratio",
    "dup_lines",
)
MODEL_RULE_NAMES: tuple[str, ...] = ("lang", "langid_conf", "perplexity")
ALL_RULE_NAMES: tuple[str, ...] = HEURISTIC_RULE_NAMES + MODEL_RULE_NAMES


def tokens_col(text: Column) -> Column:
    """Tokens = maximal runs of non-(ASCII-)whitespace in the RAW
    text: split on \\s+ and drop empty fragments. The previous
    trim-then-split form leaked empty edge tokens for text bordered
    by \\t or \\n (Spark's trim strips ONLY the space character —
    measured), inflating n_words and diverging from both the Python
    golden mirror and the DuckDB oracles on adversarial inputs
    (tests/test_differential_fuzz.py). Filtering empties makes all
    three engines agree on ANY input, including empty text
    (split('') -> [''] -> [])."""
    return F.filter(F.split(text, r"\s+"), lambda x: x != F.lit(""))


def sliding(arr: Column, k: int, combine) -> Column:
    """Every length-k window of ``arr`` in order, each mapped through
    ``combine(t0, ..., t{k-1})`` — THE k-gram builder (shingles,
    winnowing, repetition, decontamination n-grams, LM bigrams).

    Built from k shifted slices joined by arrays_zip, never from
    slice/element_at over the array captured inside a transform
    lambda: Catalyst does no common-subexpression elimination inside
    higher-order-function lambdas, so the captured form re-evaluates
    the whole array subtree per element and goes O(n_tokens^2) per
    row (measured twice: shingle hashes 9.5 s -> 1 s at sf0.1;
    winnowing on 48 x 500-token docs took 206 s).

    [] when size(arr) < k (the slice length is clamped at 0: slice()
    raises on a negative length); NULL when arr is NULL. Any other
    edge contract (empty doc, doc shorter than k) is the caller's."""
    m = F.greatest(F.lit(0), F.size(arr) - k + 1)
    z = F.arrays_zip(*[F.slice(arr, j + 1, m).alias(f"t{j}") for j in range(k)])
    return F.transform(z, lambda s: combine(*[s[f"t{j}"] for j in range(k)]))


def with_heuristics(df: DataFrame) -> DataFrame:
    """Staged projection: token/line arrays are materialized ONCE and
    stats/rules reference them, instead of one giant projection that
    re-evaluates split(trim(text)) per stat (~15x). Requires
    CollapseProject excluded from the optimizer (set by
    webfilter.session.get_spark) or Catalyst re-inlines the arrays —
    measured 1.6x on the rules stage, 2x with the scrub stage.
    Adds the stat columns (n_words, n_chars, mean_word_len,
    symbol_ratio, n_stopwords, alpha_ratio, dup_line_ratio), then the
    rule_<name> booleans."""
    t = F.col("text")
    toks, lines = F.col("_toks"), F.col("_lines")
    n_words, n_chars = F.col("n_words"), F.col("n_chars")
    out = (
        df.withColumns({"_toks": tokens_col(t), "_lines": F.split(t, "\n")})
        .withColumns(
            {
                "n_words": F.size(toks).cast("bigint"),
                "n_chars": F.length(t).cast("bigint"),
                "_sum_wl": F.aggregate(
                    toks, F.lit(0).cast("bigint"), lambda a, w: a + F.length(w)
                ),
                "_n_sym": F.length(t)
                - F.length(F.regexp_replace(t, SYMBOL_CLASS, "")),
                "n_stopwords": F.size(
                    F.array_intersect(
                        F.transform(toks, F.lower),
                        F.lit(list(EN_STOPWORDS)).cast("array<string>"),
                    )
                ).cast("bigint"),
                "_n_alpha": F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]"))),
                "_n_lines": F.size(lines),
                "_n_dlines": F.size(F.array_distinct(lines)),
            }
        )
        .withColumns(
            {
                "mean_word_len": F.when(n_words > 0, F.col("_sum_wl") / n_words)
                .otherwise(F.lit(0.0))
                .cast("double"),
                "symbol_ratio": F.when(n_chars > 0, F.col("_n_sym") / n_chars)
                .otherwise(F.lit(0.0))
                .cast("double"),
                "alpha_ratio": F.when(n_words > 0, F.col("_n_alpha") / n_words)
                .otherwise(F.lit(0.0))
                .cast("double"),
                "dup_line_ratio": F.when(
                    F.col("_n_lines") > 0,
                    (F.col("_n_lines") - F.col("_n_dlines")) / F.col("_n_lines"),
                )
                .otherwise(F.lit(0.0))
                .cast("double"),
            }
        )
        .withColumns(
            {
                "rule_min_words": n_words >= MIN_WORDS,
                "rule_max_words": n_words <= MAX_WORDS,
                "rule_min_chars": n_chars >= MIN_CHARS,
                "rule_mean_word_len": (F.col("mean_word_len") >= MEAN_WORD_LEN_LO)
                & (F.col("mean_word_len") <= MEAN_WORD_LEN_HI),
                "rule_symbol_ratio": F.col("symbol_ratio") <= MAX_SYMBOL_RATIO,
                "rule_stopwords": F.col("n_stopwords") >= MIN_DISTINCT_STOPWORDS,
                "rule_alpha_ratio": F.col("alpha_ratio") >= MIN_ALPHA_TOKEN_RATIO,
                "rule_dup_lines": F.col("dup_line_ratio") <= MAX_DUP_LINE_RATIO,
            }
        )
        .drop("_toks", "_lines", "_sum_wl", "_n_sym", "_n_alpha", "_n_lines", "_n_dlines")
    )
    return out


def model_rule_columns(df: DataFrame, cfg: RuleConfig = DEFAULT_RULES) -> DataFrame:
    """Rules over the scoring-stage outputs (langid/conf/perplexity,
    plus the optional quality-classifier gate when configured)."""
    cols = {
        "rule_lang": F.col("langid").isin(list(KEEP_LANGS)),
        "rule_langid_conf": F.col("langid_conf") >= MIN_LANGID_CONF,
        "rule_perplexity": F.col("perplexity") <= MAX_PERPLEXITY,
    }
    if cfg.min_quality_prob is not None:
        cols["rule_quality_prob"] = F.col("quality_prob") >= cfg.min_quality_prob
    if cfg.min_host_rank is not None:
        cols["rule_host_rank"] = F.col("host_rank") >= cfg.min_host_rank
    if cfg.obey_robots:
        cols["rule_robots"] = F.col("robots_allowed")
    return df.withColumns(cols)


def rule_names_for(cfg: RuleConfig) -> tuple[str, ...]:
    """The decision rule set a config activates (canonical order).
    The payload byte cap leads: it is the fetch-stage gate, decided
    before any extraction or scoring runs."""
    names = ALL_RULE_NAMES
    if cfg.max_payload_bytes is not None:
        names = ("max_payload_bytes",) + names
    if cfg.min_quality_prob is not None:
        names = names + ("quality_prob",)
    if cfg.min_host_rank is not None:
        names = names + ("host_rank",)
    if cfg.obey_robots:
        names = names + ("robots",)
    return names


def with_decision(df: DataFrame, rule_names: tuple[str, ...] = ALL_RULE_NAMES) -> DataFrame:
    """drop_reasons = names of failed rules (canonical order);
    keep = no failures. Mirrors the reference's all-critiques-pass
    gate (01_seed_generation.py:325-326) with reasons surfaced.

    NULL rule values (e.g. every heuristic on a NULL text column) are
    treated as FAILED, not passed: without the coalesce, ~NULL is
    NULL, array_compact drops it, and a NULL-text row would sail
    through with keep=true and no reasons."""
    reason = F.array_compact(
        F.array(
            *[
                F.when(~F.coalesce(F.col(f"rule_{n}"), F.lit(False)), F.lit(n)).otherwise(
                    F.lit(None)
                )
                for n in rule_names
            ]
        )
    )
    return df.withColumn("drop_reasons", reason).withColumn(
        "keep", F.size("drop_reasons") == 0
    )


# ---------------------------------------------------------------------
# C4 line-level cleaning (Raffel et al. 2020 §2.2) — the line-granular
# pass that runs BEFORE doc-level heuristics: C4 keeps only lines that
# end in terminal punctuation, have >= 5 words, and carry no
# javascript/boilerplate markers, then drops whole pages with code
# braces or fewer than a minimum of surviving lines. Pure Column HOFs
# (split -> transform -> filter -> array_join): JVM-side, no Python,
# no shuffle — a narrow map over the corpus regardless of scale.

C4_LINE_MIN_WORDS = 5
C4_MIN_KEPT_LINES = 3
# matched against the LOWERCASED line (dialect-portable: no (?i))
C4_BOILERPLATE_RE = r"javascript|lorem ipsum|cookie policy|privacy policy|terms of use"
C4_TERMINAL_PUNCT_RE = r"""[.!?"']$"""


def c4_kept_lines_col(text: Column) -> Column:
    """Array of the lines of ``text`` that survive C4's line rules:
    terminal punctuation, >= C4_LINE_MIN_WORDS whitespace tokens, no
    boilerplate marker (case-insensitive)."""
    # FULL whitespace trim per line: Spark's trim strips only the
    # space character (measured — see tokens_col), so a CRLF corpus
    # would leave '\r' on every line, inflating the \s+ word count by
    # one trailing empty token and breaking the terminal-punctuation
    # anchor (code-review r4c5 finding #3)
    lines = F.transform(
        F.split(text, "\n"),
        lambda l: F.regexp_replace(l, r"^\s+|\s+$", ""),
    )
    return F.filter(
        lines,
        lambda l: l.rlike(C4_TERMINAL_PUNCT_RE)
        & (F.size(F.split(l, r"\s+")) >= C4_LINE_MIN_WORDS)
        & ~F.lower(l).rlike(C4_BOILERPLATE_RE),
    )


def c4_line_filter(df: DataFrame) -> DataFrame:
    """C4 cleaning as lineage-preserving columns: ``clean_text`` (the
    surviving lines rejoined), ``n_lines`` / ``n_kept_lines``, and
    ``c4_keep`` (enough lines survived AND no '{' on the page —
    C4's code-page drop). Rows are flagged, not dropped; callers
    filter on ``c4_keep``."""
    t = F.col("text")
    kept = c4_kept_lines_col(t)
    return df.withColumns(
        {
            "n_lines": F.size(F.split(t, "\n")).cast("bigint"),
            "n_kept_lines": F.size(kept).cast("bigint"),
            "clean_text": F.array_join(kept, "\n"),
            "c4_keep": (F.size(kept) >= C4_MIN_KEPT_LINES) & ~t.contains("{"),
        }
    )
