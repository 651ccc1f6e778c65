"""Unit tests for the pure kernels — no SparkSession needed
(SURVEY.md §5 test plan item 1)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from webfilter.kernels import langid, perplexity
from webfilter.kernels.extract import extract_one, sniff_charset
from webfilter.kernels.scrubber import SCRUB_PATTERNS, scrub_batch, scrub_one


class TestExtract:
    def test_basic(self):
        html = (
            b"<html><head><meta charset=\"utf-8\"><title>T &amp; t</title>"
            b"<style>x{}</style></head><body><script>var a=1;</script>"
            b"<p>Hello &amp; world</p><p>Line two</p></body></html>"
        )
        text, title, err = extract_one(html)
        assert text == "Hello & world\nLine two"
        assert title == "T & t"
        assert err == ""

    def test_latin1_charset(self):
        raw = (
            "<html><head><meta charset=\"latin-1\"></head>"
            "<body><p>café crème</p></body></html>"
        ).encode("latin-1")
        text, _, err = extract_one(raw)
        assert text == "café crème"
        assert err == ""

    def test_invalid_bytes_deterministic_replace(self):
        raw = b"<body><!-- \xff\xfe\xfa --><p>ok text</p></body>"
        t1 = extract_one(raw)
        t2 = extract_one(raw)
        assert t1 == t2
        assert t1[0] == "ok text"
        assert t1[2].startswith("decode_replace")

    def test_null_and_empty(self):
        assert extract_one(None) == ("", "", "null_html")
        assert extract_one(b"") == ("", "", "empty_html")

    def test_sniff(self):
        assert sniff_charset(b'<meta charset="latin-1">') == "latin-1"
        assert sniff_charset(b'<meta charset="bogus-enc">') == "utf-8"
        assert sniff_charset(b"no meta") == "utf-8"

    def test_whitespace_normal_form_idempotent(self):
        # extraction output re-wrapped must extract to itself
        text = "a b c\nd e f"
        html = ("<body>" + "".join(f"<p>{l}</p>" for l in text.split("\n")) + "</body>").encode()
        out, _, _ = extract_one(html)
        assert out == text

    @given(st.binary(max_size=400))
    @settings(max_examples=200, deadline=None)
    def test_never_raises_and_deterministic(self, raw):
        a = extract_one(raw)
        b = extract_one(raw)
        assert a == b
        assert isinstance(a[0], str)


class TestLangid:
    def test_clean_langs(self):
        texts = pd.Series(
            [
                "the time of people and water in the school was good for all children",
                "der die und in den von zu das mit sich des auf für ist im dem zeit",
                "le la les de des du un une et est en que qui dans pour pas sur école",
                "el la los las de del un una y es en que no por con para su mundo",
                "的一是不了人我在有他这为之大来以个中上们到说国和地也子时道出而要",
            ]
        )
        out = langid.predict_batch(texts)
        assert out["langid"].tolist() == ["en", "de", "fr", "es", "zh"]
        assert (out["langid_conf"] > 0.9).all()

    def test_empty_is_und(self):
        out = langid.predict_batch(pd.Series(["", "ab"]))
        assert (out["langid"] == "und").all()

    def test_deterministic(self):
        s = pd.Series(["the time of people and water"] * 3)
        a = langid.predict_batch(s)
        b = langid.predict_batch(s)
        pd.testing.assert_frame_equal(a, b)


class TestPerplexity:
    def test_separation(self):
        s = pd.Series(
            [
                "the time of people and water in the school was good for all the children there",
                "zxqj vkwpl mnbtr qqzzx wvvk jjxz plmnb trqqz zxwv vkjj xzpl",
            ]
        )
        ppl = perplexity.score_batch(s)
        assert ppl[0] < 30_000 < ppl[1]

    def test_empty_max_penalty(self):
        ppl = perplexity.score_batch(pd.Series(["", "word"]))
        assert ppl[0] == ppl[1] > 30_000

    def test_batch_equals_single(self):
        texts = ["the time of people", "zxqj vkwpl mnbtr", "water water water"]
        batch = perplexity.score_batch(pd.Series(texts))
        singles = [perplexity.score_batch(pd.Series([t]))[0] for t in texts]
        assert batch.tolist() == pytest.approx(singles)


class TestScrubber:
    CASES = [
        ("contact me at john.doe+spam@example.co.uk today", "contact me at <EMAIL> today"),
        ("ssn 123-45-6789 and phone 555-123-4567 ok", "ssn <SSN> and phone <PHONE> ok"),
        ("call (555) 123-4567 or +1 555-123-4567 now", "call <PHONE> or <PHONE> now"),
        ("card 1234-5678-9012-3456 ip 192.168.0.1", "card <CC> ip <IP>"),
        ("you frak this Frak FRAK gorram", "you <TOXIC> this <TOXIC> <TOXIC> <TOXIC>"),
        ("no pii here at all", "no pii here at all"),
    ]

    @pytest.mark.parametrize("raw,expected", CASES)
    def test_cases(self, raw, expected):
        out, _hits = scrub_one(raw)
        assert out == expected

    @pytest.mark.parametrize("raw,_expected", CASES)
    def test_duckdb_agreement(self, raw, _expected):
        """The python oracle and the DuckDB regexp_replace chain (used
        in the driver's oracle SQL) must agree byte-for-byte."""
        con = duckdb.connect()
        d = raw
        for _n, pat, repl in SCRUB_PATTERNS:
            d = con.execute("select regexp_replace(?, ?, ?, 'g')", [d, pat, repl]).fetchone()[0]
        assert d == scrub_one(raw)[0]

    def test_batch_matches_single(self):
        texts = [c[0] for c in self.CASES]
        out = scrub_batch(pd.Series(texts))
        assert out["scrubbed"].tolist() == [scrub_one(t)[0] for t in texts]

    @given(st.text(max_size=300))
    @settings(max_examples=200, deadline=None)
    def test_scrub_never_increases_pii(self, text):
        """Property (SURVEY.md §5 item 4): scrubbing is a fixpoint —
        scrubbing twice equals scrubbing once, and no pattern matches
        the scrubbed output."""
        once, _ = scrub_one(text)
        twice, hits2 = scrub_one(once)
        assert twice == once
        assert not hits2


def test_xpath_title_on_wellformed_xml(spark):
    """P12: the built-in xpath_string pulls titles from well-formed
    XML JVM-side (reference 04_Chunk_Articles_Content.py:96-99)."""
    from webfilter.extract import with_xml_title

    df = spark.createDataFrame(
        [
            ("<article><front><title>Alpha Beta</title></front><body>x</body></article>",),
            ("<html><head><title>T2</title></head><body/></html>",),
            ("<doc><body>no title here</body></doc>",),
        ],
        "xml string",
    )
    got = [r["xml_title"] for r in with_xml_title(df, "xml").collect()]
    assert got == ["Alpha Beta", "T2", ""]


def test_scrub_parity_tricky_boundaries(spark):
    """ADVICE r1: \\b placement around non-ASCII word chars must agree
    between the Python oracle (re.ASCII) and Spark's Java regex."""
    from pyspark.sql import functions as F

    from webfilter.kernels.scrubber import scrub_one
    from webfilter.scrub import scrubbed_col

    texts = [
        "ssn café555-12-3456 end",        # é before the digit run
        "naïve 555-12-3456é tail",        # é after
        "mail zoé@exämple.com x",          # non-ascii email-ish
        "ip 1.2.3.4é and 10.0.0.1 plain",
        "phone (555) 123-4567 nbsp",
        "10.172.61.131 566-566-9299",     # IP ending in 1, then a phone
        "3051-3051-3051-3051 452-452-3044",  # card ending in 1, then a phone
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = {r["text"]: r["s"] for r in df.select("text", scrubbed_col(F.col("text")).alias("s")).collect()}
    for t in texts:
        assert got[t] == scrub_one(t)[0], repr(t)


def test_hspace_fast_path_matches_reference():
    """Round-3 kernel experiment: the translate + ' {2,}' collapse
    must stay byte-identical to the _HSPACE reference regex on
    arbitrary whitespace mixes (the old single regex matched every
    inter-word space — 65% of the kernel's regex budget)."""
    import random

    from webfilter.kernels.extract import _HSPACE, _HSPACE_TR, _SP_RUN

    random.seed(31)
    chars = " \t\r\f\v ab\n"
    for _ in range(30000):
        s = "".join(random.choice(chars) for _ in range(random.randint(0, 40)))
        assert _HSPACE.sub(" ", s) == _SP_RUN.sub(" ", s.translate(_HSPACE_TR)), repr(s)


def test_phone_pattern_never_matches_inside_digit_runs():
    from webfilter.kernels.scrubber import scrub_one

    assert scrub_one("serial 98765 432 1098")[0] == "serial 98765 432 1098"
    assert scrub_one("call 555 123 4567 now")[0] == "call <PHONE> now"
    assert scrub_one("(555) 123-4567")[0] == "<PHONE>"
    assert scrub_one("+1 555-123-4567")[0] == "<PHONE>"
    # the optional '1 ' country code must not take the last digit of a
    # preceding IP or card number (the card would then leak)
    assert scrub_one("10.172.61.131 566-566-9299")[0] == "<IP> <PHONE>"
    assert scrub_one("3051-3051-3051-3051 452-452-3044")[0] == "<CC> <PHONE>"
