"""Deterministic synthetic Common-Crawl-style ``pages`` corpus +
golden labels, generated distributed (mapInPandas over spark.range).

Determinism contract: every random draw is a counter-based splitmix64
of (SEED, doc_id, stream) — partition-layout-invariant, so the same
``n_docs`` yields byte-identical rows at local[1] and local[32] and on
a real cluster. (The reference's fixtures are checked-in jsonl,
databricks/model/bc_chat_ift/data/seed.jsonl; ours are regenerated on
demand from code, same spirit. The reference's unseeded ``sample(0.2)``
bug, 03_process_and split_dataset.py:89, is exactly what this module
refuses to reproduce.)

Row mix (FIXTURES.md §1): clean English (keep), too-short, gibberish,
symbol-heavy, non-English (de/fr/es/zh), PII/toxic (keep + scrub),
intra-doc boilerplate repeats, cross-doc near-duplicate clusters,
url re-crawl duplicates (monotonic warc_ts merge targets), latin-1
and invalid-byte html (charset/decode paths).
"""

from __future__ import annotations

import html as _htmllib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .kernels.corpora import EN_WORDS, WORDLISTS, ZH_CHARS
from .kernels.heuristics import heuristic_reasons
from .kernels.scrubber import TOXIC_LEXICON

SEED = np.uint64(0x5EED_CAFE_2024_0042)

CATEGORIES = (
    ("clean_en", 0.40),
    ("short_en", 0.08),
    ("gibberish", 0.08),
    ("symbol_heavy", 0.06),
    ("non_en", 0.18),
    ("pii_en", 0.10),
    ("boiler_dup", 0.06),
    ("near_dup", 0.04),
)
_CUM = np.cumsum([w for _, w in CATEGORIES])
_CAT_NAMES = [n for n, _ in CATEGORIES]

HOT_HOSTS = ("big-portal.example.com", "mega-news.example.net", "hub.example.org")
N_COLD_HOSTS = 5000
BASE_TS = np.datetime64("2024-01-01T00:00:00", "us")

PAGES_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]

_LANG_KEYS = ("en", "de", "fr", "es", "zh")


def _mix(x: np.ndarray) -> np.ndarray:
    from .kernels.mix import GOLDEN_GAMMA, splitmix64

    x = x.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        x += GOLDEN_GAMMA
    return splitmix64(x)


_M64 = 0xFFFFFFFFFFFFFFFF


def _c(x: int) -> np.uint64:
    """python-int 64-bit wrap -> uint64 (avoids numpy scalar-overflow
    warnings on constant mixing)."""
    return np.uint64(x & _M64)


def _u01(doc_ids: np.ndarray, stream: int) -> np.ndarray:
    h = _mix(doc_ids.astype(np.uint64) ^ _c(stream * 0xD1B54A32D192ED03) ^ SEED)
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _randint(doc_id: int, stream: int, lo: int, hi: int) -> int:
    """scalar uniform int in [lo, hi)"""
    u = _u01(np.array([doc_id], dtype=np.uint64), stream)[0]
    return lo + int(u * (hi - lo))


def _word_stream(doc_id: int, stream: int, n: int, vocab: tuple[str, ...]) -> list[str]:
    ids = np.arange(n, dtype=np.uint64)
    with np.errstate(over="ignore"):
        h = _mix(
            _c(doc_id * 0xA24BAED4963EE407)
            ^ (ids * np.uint64(0x9FB21C651E98DF25))
            ^ _c(stream << 32)
            ^ SEED
        )
    idx = (h % np.uint64(len(vocab))).astype(np.int64)
    return [vocab[i] for i in idx]


_GIB_ALPHA = "bcdfghjklmnpqrstvwxz"


def _gibberish_words(doc_id: int, n: int) -> list[str]:
    lens = [(4 + _randint(doc_id, 100 + i, 0, 5)) for i in range(n)]
    words = []
    for i, L in enumerate(lens):
        ids = np.arange(L, dtype=np.uint64)
        h = _mix((np.uint64(doc_id) << np.uint64(20)) ^ (np.uint64(i) << np.uint64(8)) ^ ids ^ SEED)
        words.append("".join(_GIB_ALPHA[j] for j in (h % np.uint64(len(_GIB_ALPHA))).astype(int)))
    return words


def _to_lines(words: list[str]) -> str:
    """12 words per line."""
    lines = [" ".join(words[i : i + 12]) for i in range(0, len(words), 12)]
    return "\n".join(lines)


_PII_MAKERS = (
    ("email", lambda d: f"user{d % 9973}@example{d % 7}.com", "<EMAIL>"),
    ("ssn", lambda d: f"{100 + d % 899}-{10 + d % 89}-{1000 + d % 8999}", "<SSN>"),
    ("phone", lambda d: f"{200 + d % 799}-{200 + d % 799}-{1000 + d % 8999}", "<PHONE>"),
    ("phone2", lambda d: f"({200 + d % 799}) {200 + d % 799}-{1000 + d % 8999}", "<PHONE>"),
    ("cc", lambda d: f"{1000 + d % 8999}-{1000 + d % 8999}-{1000 + d % 8999}-{1000 + d % 8999}", "<CC>"),
    ("ipv4", lambda d: f"10.{d % 255}.{(d // 7) % 255}.{(d // 11) % 255}", "<IP>"),
    ("toxic", lambda d: TOXIC_LEXICON[d % len(TOXIC_LEXICON)], "<TOXIC>"),
)


def _make_doc(doc_id: int, cat: str, n_docs: int) -> dict:
    """Build one document's text + golden truth. Pure function of
    (doc_id, cat, n_docs)."""
    lang = "en"
    dup_group = None
    has_pii = False
    text_plain = ""
    scrubbed = None

    if cat == "clean_en":
        n = 60 + _randint(doc_id, 1, 0, 240)
        text_plain = _to_lines(_word_stream(doc_id, 2, n, EN_WORDS))
    elif cat == "short_en":
        n = 5 + _randint(doc_id, 1, 0, 26)  # 5..30 < 50
        text_plain = _to_lines(_word_stream(doc_id, 2, n, EN_WORDS))
    elif cat == "gibberish":
        n = 60 + _randint(doc_id, 1, 0, 61)
        text_plain = _to_lines(_gibberish_words(doc_id, n))
    elif cat == "symbol_heavy":
        n = 60 + _randint(doc_id, 1, 0, 120)
        words = _word_stream(doc_id, 2, n, EN_WORDS)
        words = [w + "###" if i % 2 == 0 else w for i, w in enumerate(words)]
        text_plain = _to_lines(words)
    elif cat == "non_en":
        lang = ("de", "fr", "es", "zh")[_randint(doc_id, 3, 0, 4)]
        n = 60 + _randint(doc_id, 1, 0, 140)
        if lang == "zh":
            ids = np.arange(n, dtype=np.uint64)
            h = _mix((np.uint64(doc_id) << np.uint64(16)) ^ ids ^ SEED)
            # 1-3 char groups, space-separated
            chars = [ZH_CHARS[j] for j in (h % np.uint64(len(ZH_CHARS))).astype(int)]
            grouped, i = [], 0
            while i < len(chars):
                g = 1 + (doc_id + i) % 3
                grouped.append("".join(chars[i : i + g]))
                i += g
            text_plain = _to_lines(grouped)
        else:
            text_plain = _to_lines(_word_stream(doc_id, 2, n, WORDLISTS[lang]))
    elif cat == "pii_en":
        has_pii = True
        n = 60 + _randint(doc_id, 1, 0, 200)
        words = _word_stream(doc_id, 2, n, EN_WORDS)
        n_pii = 1 + _randint(doc_id, 4, 0, 3)
        plain, scrub_w = list(words), list(words)
        for k in range(n_pii):
            name, maker, tag = _PII_MAKERS[_randint(doc_id, 5 + k, 0, len(_PII_MAKERS))]
            pos = _randint(doc_id, 20 + k, 0, len(plain))
            lit = maker(doc_id * 31 + k * 7)
            plain.insert(pos, lit)
            scrub_w.insert(pos, tag)
        text_plain = _to_lines(plain)
        scrubbed = _to_lines(scrub_w)
    elif cat == "boiler_dup":
        base = _word_stream(doc_id, 2, 10, EN_WORDS)
        uniq1 = _word_stream(doc_id, 6, 12, EN_WORDS)
        uniq2 = _word_stream(doc_id, 7, 12, EN_WORDS)
        reps = 5 + _randint(doc_id, 8, 0, 4)
        lines = [" ".join(base)] * reps + [" ".join(uniq1), " ".join(uniq2)]
        text_plain = "\n".join(lines)
    elif cat == "near_dup":
        group = doc_id % max(n_docs // 200, 1)
        dup_group = f"g{group}"
        base = _word_stream(group + 1_000_000_007, 2, 120, EN_WORDS)
        mut = list(base)
        if _u01(np.array([doc_id], dtype=np.uint64), 9)[0] >= 0.3:
            for k in range(2):
                pos = _randint(doc_id, 30 + k, 0, len(mut))
                mut[pos] = EN_WORDS[_randint(doc_id, 40 + k, 0, len(EN_WORDS))]
        text_plain = _to_lines(mut)

    if scrubbed is None:
        scrubbed = text_plain
    title_words = text_plain.split("\n", 1)[0].split(" ")[:3]
    title = f"Doc {doc_id}: " + " ".join(title_words)
    reasons = heuristic_reasons(text_plain)
    # model-rule golden intent (see tests: asserted via membership,
    # not set-equality, for model rules)
    keep = not reasons and cat != "non_en" and cat != "gibberish"
    return {
        "category": cat,
        "lang_true": lang,
        "expected_text": text_plain,
        "expected_scrubbed": scrubbed,
        "dup_group": dup_group,
        "has_pii": has_pii,
        "title": title,
        "heur_reasons": reasons,
        "keep": keep,
    }


def _wrap_html(doc_id: int, title: str, text: str) -> bytes:
    """html such that extract.extract_one(html).text == text exactly."""
    u_style = _u01(np.array([doc_id], dtype=np.uint64), 50)[0]
    u_charset = _u01(np.array([doc_id], dtype=np.uint64), 51)[0]
    lines = text.split("\n")
    body = "".join(f"<p>{_htmllib.escape(ln, quote=False)}</p>" for ln in lines)
    noise = ""
    if u_style < 0.5:
        noise = "<script>var x = 1 < 2;</script><style>.a{color:red}</style>"
    # deterministic cross-host outlinks (EMPTY anchor text: tags strip
    # to whitespace, so extracted text stays byte-identical to the
    # golden) — gives the corpus a real host graph for the PageRank
    # host-prior stage; ~60% of docs also link the first hot host, so
    # host authority is skewed like real web in-degree
    u_link = _u01(np.array([doc_id], dtype=np.uint64), 52)[0]
    links = "".join(
        f'<a href="https://{h}/p/{(doc_id * k + j) % 100000}.html"></a>'
        for j, (k, h) in enumerate(
            [(7, _host(doc_id * 7 + 1)), (13, _host(doc_id * 13 + 5))]
        )
    )
    if u_link < 0.6:
        links += f'<a href="https://{HOT_HOSTS[0]}/"></a>'
    noise += links
    head = f"<title>{_htmllib.escape(title, quote=False)}</title>"
    charset_meta = '<meta charset="utf-8">'
    enc = "utf-8"
    if u_charset < 0.08:
        try:
            text.encode("latin-1")
            enc = "latin-1"
            charset_meta = '<meta charset="latin-1">'
        except UnicodeEncodeError:
            enc = "utf-8"
    doc = (
        f"<html><head>{charset_meta}{head}</head>"
        f"<body>{noise}<!-- crawl {doc_id} -->{body}</body></html>"
    )
    raw = doc.encode(enc)
    if enc == "utf-8" and 0.08 <= u_charset < 0.11:
        # invalid bytes inside a comment: decode falls back to
        # errors='replace', the U+FFFDs land inside the comment and
        # are stripped -> text still byte-identical, err column set.
        raw = raw.replace(b"<body>", b"<body><!-- \xff\xfe\xfa -->", 1)
    return raw


def _host(doc_id: int) -> str:
    u = _u01(np.array([doc_id], dtype=np.uint64), 60)[0]
    if u < 0.35:  # skewed hot hosts (~35% of the corpus)
        return HOT_HOSTS[doc_id % len(HOT_HOSTS)]
    return f"site-{_mix(np.array([doc_id], dtype=np.uint64))[0] % N_COLD_HOSTS}.example.com"


def gen_batch(doc_ids: np.ndarray, n_docs: int) -> pd.DataFrame:
    """Wide batch: pages columns + golden columns + row_kind."""
    u_cat = _u01(doc_ids.astype(np.uint64), 0)
    cat_idx = np.searchsorted(_CUM, u_cat, side="right")
    u_text = _u01(doc_ids.astype(np.uint64), 70)
    u_lang = _u01(doc_ids.astype(np.uint64), 71)
    u_dup = _u01(doc_ids.astype(np.uint64), 72)
    rows = []
    for j, did in enumerate(doc_ids.tolist()):
        cat = _CAT_NAMES[min(int(cat_idx[j]), len(_CAT_NAMES) - 1)]
        g = _make_doc(did, cat, n_docs)
        host = _host(did)
        url = f"https://{host}/p/{did}.html"
        ts = BASE_TS + np.timedelta64((did * 9973) % (365 * 86400), "s")
        html_bytes = _wrap_html(did, g["title"], g["expected_text"])
        claimed = g["lang_true"]
        if u_lang[j] < 0.10:  # sometimes-wrong claimed lang
            claimed = _LANG_KEYS[(did + 1) % len(_LANG_KEYS)]
        text_col = g["expected_text"] if u_text[j] < 0.5 else ""
        rows.append(
            {
                "url": url,
                "warc_ts": ts,
                "html": html_bytes,
                "text": text_col,
                "lang": claimed,
                "row_kind": "main",
                "category": g["category"],
                "keep": g["keep"],
                "heur_reasons": g["heur_reasons"],
                "lang_true": g["lang_true"],
                "expected_text": g["expected_text"],
                "expected_scrubbed": g["expected_scrubbed"],
                "dup_group": g["dup_group"],
                "has_pii": g["has_pii"],
                "title": g["title"],
            }
        )
        if u_dup[j] < 0.05:
            # stale re-crawl of the same url: older warc_ts, stale
            # html — the monotonic-merge rule must discard it
            # (reference precedent: 01_Metadata_Sync.py:63)
            stale_words = g["expected_text"].split(" ")[:40]
            stale_text = " ".join(stale_words).replace("\n", " ")
            stale_html = _wrap_html(did, "stale " + g["title"], stale_text)
            rows.append(
                {
                    "url": url,
                    "warc_ts": ts - np.timedelta64(86_400, "s"),
                    "html": stale_html,
                    "text": "",
                    "lang": claimed,
                    "row_kind": "stale",
                    "category": g["category"],
                    "keep": None,
                    "heur_reasons": None,
                    "lang_true": None,
                    "expected_text": None,
                    "expected_scrubbed": None,
                    "dup_group": None,
                    "has_pii": None,
                    "title": None,
                }
            )
    pdf = pd.DataFrame(rows)
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"])
    return pdf


WIDE_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "row_kind string, category string, keep boolean, "
    "heur_reasons array<string>, lang_true string, expected_text string, "
    "expected_scrubbed string, dup_group string, has_pii boolean, title string"
)


def synth_wide(spark: SparkSession, n_docs: int) -> DataFrame:
    """Distributed deterministic generation (partition-invariant)."""

    def gen(it):
        for pdf in it:
            ids = pdf["id"].to_numpy()
            if len(ids):
                yield gen_batch(ids, n_docs)

    return (
        spark.range(0, n_docs, numPartitions=spark.sparkContext.defaultParallelism)
        .mapInPandas(gen, schema=WIDE_SCHEMA)
    )


def pages_from_wide(wide: DataFrame) -> DataFrame:
    return wide.select(*PAGES_COLUMNS)


def golden_from_wide(wide: DataFrame) -> DataFrame:
    g = wide.filter(wide.row_kind == "main")
    return g.select(
        "url", "category", "keep", "heur_reasons", "lang_true",
        "expected_text", "expected_scrubbed", "dup_group", "has_pii", "title",
    )


def write_dataset(spark: SparkSession, n_docs: int, out_dir: str) -> None:
    """Materialize pages/ and golden/ parquet under out_dir."""
    wide = synth_wide(spark, n_docs)
    wide.write.mode("overwrite").parquet(f"{out_dir}/wide.parquet")
    wide2 = spark.read.parquet(f"{out_dir}/wide.parquet")
    pages_from_wide(wide2).write.mode("overwrite").parquet(f"{out_dir}/pages.parquet")
    golden_from_wide(wide2).write.mode("overwrite").parquet(f"{out_dir}/golden.parquet")
