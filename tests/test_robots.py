"""robots.txt parse + crawl-allow semantics (webfilter/robots.py):
RFC 9309 group selection, longest-match precedence, allow-wins-ties,
default allow, and the parser's line-algebra edge cases."""

from __future__ import annotations

from _plan import formatted, nodes
from pyspark.sql import functions as F

from webfilter.robots import parse_robots, robots_decisions, rules_dim

ROBOTS = """# demo
User-agent: *
Disallow: /a
Allow: /a/b

User-agent: specialbot
User-agent: otherbot
Disallow: /s
Disallow:
Crawl-delay: 7
allow: /s/ok
"""


def _rules(spark):
    df = spark.createDataFrame(
        [("h1.example", ROBOTS)], "host string, robots_txt string"
    )
    return parse_robots(df)


def _urls(spark, rows):
    return spark.createDataFrame(rows, "url string, host string, upath string")


def test_parse_groups_and_noops(spark):
    rules = {(r.group_id, r.agent, r.path, r.allow) for r in _rules(spark).collect()}
    assert rules == {
        (1, "*", "/a", False),
        (1, "*", "/a/b", True),
        # consecutive UA lines share group 2; empty Disallow and
        # Crawl-delay vanish
        (2, "specialbot", "/s", False),
        (2, "specialbot", "/s/ok", True),
        (2, "otherbot", "/s", False),
        (2, "otherbot", "/s/ok", True),
    }


def test_longest_match_and_group_selection(spark):
    rules = _rules(spark)
    urls = _urls(
        spark,
        [
            ("u1", "h1.example", "/a/x"),      # /a deny
            ("u2", "h1.example", "/a/b/c"),    # /a/b allow beats /a
            ("u3", "h1.example", "/other"),    # no match -> allow
            ("u4", "nohost.example", "/a/x"),  # no robots -> allow
        ],
    )
    got = {r.url: (r.allowed, r.rule_path)
           for r in robots_decisions(urls, rules, "genericbot").collect()}
    assert got == {
        "u1": (False, "/a"),
        "u2": (True, "/a/b"),
        "u3": (True, None),
        "u4": (True, None),
    }
    # specific agent: ONLY its group applies — /a is now unrestricted,
    # /s is not
    got2 = {r.url: r.allowed
            for r in robots_decisions(
                _urls(spark, [("v1", "h1.example", "/a/x"),
                              ("v2", "h1.example", "/s/x"),
                              ("v3", "h1.example", "/s/ok/y")]),
                rules, "SpecialBot").collect()}
    assert got2 == {"v1": True, "v2": False, "v3": True}


def test_allow_wins_length_ties(spark):
    df = spark.createDataFrame(
        [("h.example", "User-agent: *\nDisallow: /xx\nAllow: /xy")],
        "host string, robots_txt string",
    )
    urls = _urls(spark, [("t1", "h.example", "/xy/page")])
    # same-length prefixes never both match one path; build a true
    # tie instead: identical path, conflicting verdicts
    df2 = spark.createDataFrame(
        [("h.example", "User-agent: *\nDisallow: /p\nAllow: /p")],
        "host string, robots_txt string",
    )
    got = robots_decisions(
        _urls(spark, [("t2", "h.example", "/p/1")]), parse_robots(df2), "x"
    ).collect()[0]
    assert got.allowed is True  # allow beats disallow on the tie
    got1 = robots_decisions(urls, parse_robots(df), "x").collect()[0]
    assert got1.allowed is True and got1.rule_path == "/xy"


def test_rules_join_is_broadcast(spark):
    """The page-side join against robots rules must be a broadcast
    hash join — no shuffle of the (100 TB) url side."""
    rules = _rules(spark)
    urls = _urls(spark, [("u1", "h1.example", "/a/x")])
    plan = robots_decisions(urls, rules, "bot")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# ------------------------------------------------- pipeline integration


def test_pipeline_robots_lineage_and_gate(spark, synth_dir, tmp_path):
    """robots wiring in the filter pipeline: lineage mode populates
    robots_allowed without changing keep vs golden; obey mode drops
    exactly the disallowed urls with reason 'robots' and leaves
    compliant hosts' decisions untouched."""
    from webfilter import pipeline, rules
    from webfilter.urls import host_col

    pages = spark.read.parquet(f"{synth_dir}/pages.parquet")
    hosts = [
        r.h
        for r in pages.select(host_col(F.col("url")).alias("h"))
        .distinct().sort("h").limit(2).collect()
    ]
    blocked, open_host = hosts
    robots_pq = str(tmp_path / "robots.parquet")
    spark.createDataFrame(
        [
            (blocked, "User-agent: *\nDisallow: /"),
            (open_host, "User-agent: *\nDisallow: /never-matches"),
        ],
        "host string, robots_txt string",
    ).write.parquet(robots_pq)

    # lineage mode: column populated, keep identical to golden
    out1 = str(tmp_path / "out_lineage")
    pipeline.run_filter(
        spark, f"{synth_dir}/pages.parquet", out1, n_buckets=8,
        run_id="r1", robots_path=robots_pq,
    )
    dec = spark.read.parquet(f"{out1}/decisions.parquet")
    golden = spark.read.parquet(f"{synth_dir}/golden.parquet").select(
        "url", F.col("keep").alias("gkeep")
    )
    joined = dec.join(golden, "url")
    assert joined.filter(F.col("keep") != F.col("gkeep")).count() == 0
    got_hosts = {
        r.h: r.allowed
        for r in dec.select(
            host_col(F.col("url")).alias("h"),
            F.col("robots_allowed").alias("allowed"),
        ).distinct().collect()
        if r.h in hosts
    }
    assert got_hosts[blocked] is False and got_hosts[open_host] is True
    # hosts without robots default to allowed, never NULL
    assert dec.filter(F.col("robots_allowed").isNull()).count() == 0

    # obey mode: blocked host drops with reason 'robots'; everything
    # else keeps its golden label
    out2 = str(tmp_path / "out_obey")
    cfg = rules.RuleConfig(obey_robots=True)
    pipeline.run_filter(
        spark, f"{synth_dir}/pages.parquet", out2, n_buckets=8,
        run_id="r2", cfg=cfg, robots_path=robots_pq,
    )
    dec2 = spark.read.parquet(f"{out2}/decisions.parquet").withColumn(
        "h", host_col(F.col("url"))
    )
    on_blocked = dec2.filter(F.col("h") == blocked)
    assert on_blocked.count() > 0
    assert on_blocked.filter(F.col("keep")).count() == 0
    assert (
        on_blocked.filter(~F.array_contains("drop_reasons", "robots")).count()
        == 0
    )
    rest = dec2.filter(F.col("h") != blocked).join(golden, "url")
    assert rest.filter(F.col("keep") != F.col("gkeep")).count() == 0


def test_pipeline_robots_join_is_broadcast(spark, synth_dir):
    """The page-side robots join must be broadcast (rules dim is tiny)
    and the decision pure HOFs — obey mode adds BroadcastHashJoins but
    ZERO extra page-side shuffles vs the default plan."""
    from webfilter import pipeline

    pages = spark.read.parquet(f"{synth_dir}/pages.parquet")
    robots = spark.createDataFrame(
        [("h.example", "User-agent: *\nDisallow: /x")],
        "host string, robots_txt string",
    )
    p0 = formatted(pipeline.filtered_frame(pages))
    p1 = formatted(pipeline.filtered_frame(pages, robots=robots))
    assert nodes(p1, "BroadcastHashJoin") == nodes(p0, "BroadcastHashJoin") + 1
    # the robots SIDE contributes its own tiny exchanges; they are
    # bounded (rules ∝ hosts) — assert the growth is exactly that
    # subplan's, not a page-side reshuffle
    dim = formatted(rules_dim(parse_robots(robots), "webfilter"))
    assert nodes(p1, "Exchange") == nodes(p0, "Exchange") + nodes(dim, "Exchange"), p1


def test_obey_robots_without_frame_raises(spark, synth_dir):
    from webfilter import pipeline, rules

    pages = spark.read.parquet(f"{synth_dir}/pages.parquet")
    with __import__("pytest").raises(ValueError):
        pipeline.filtered_frame(pages, cfg=rules.RuleConfig(obey_robots=True))


# ------------------------------------------------- sitemap ingestion


def test_parse_sitemaps_per_entry_binding_and_quarantine(spark):
    """from_xml binds fields PER <url> entry — a missing <lastmod>
    yields NULL there without misaligning later entries — and
    malformed / NULL XML degrades to zero rows instead of a task
    crash (xpath's failure mode on real-web garbage)."""
    from webfilter.robots import parse_sitemaps

    df = spark.createDataFrame(
        [
            (
                "h1",
                "<urlset>"
                "<url><loc>https://h1/a</loc><lastmod>2024-01-02</lastmod>"
                "<priority>0.5</priority></url>"
                "<url><loc>https://h1/b</loc><priority>0.8</priority></url>"
                "<url><loc>https://h1/c</loc><lastmod>2024-01-04</lastmod>"
                "<priority>0.9</priority></url>"
                "</urlset>",
            ),
            ("h2", "utter garbage <<< not xml"),
            ("h3", None),
        ],
        "host string, sitemap_xml string",
    )
    rows = {r.loc: r for r in parse_sitemaps(df).collect()}
    assert set(rows) == {"https://h1/a", "https://h1/b", "https://h1/c"}
    assert rows["https://h1/b"].lastmod is None
    assert rows["https://h1/b"].priority == 0.8
    # the entry AFTER the short one keeps its own lastmod (no shift)
    import pandas as pd

    assert pd.Timestamp(rows["https://h1/c"].lastmod) == pd.Timestamp(
        "2024-01-04"
    )


def test_politeness_schedule_spacing_and_parallelism(spark):
    """Within one host: offsets strictly spaced by the host's delay;
    across hosts: every host starts at offset 0 (fully parallel)."""
    from webfilter.robots import politeness_schedule

    rows = [(i, f"doc {i}", "en", f"h{i % 3}", 6) for i in range(30)]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    out = politeness_schedule(df).collect()
    by_host: dict[str, list] = {}
    for r in out:
        by_host.setdefault(r["host"], []).append(r)
    assert set(by_host) == {"h0", "h1", "h2"}
    for host, rs in by_host.items():
        rs.sort(key=lambda r: r["fetch_rank"])
        delay = 1 + len(host) % 4
        assert all(r["crawl_delay_s"] == delay for r in rs)
        assert [r["fetch_rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert [r["fetch_offset_s"] for r in rs] == [
            (i - 1) * delay for i in range(1, len(rs) + 1)
        ]
        assert rs[0]["fetch_offset_s"] == 0  # no cross-host serialization


def test_politeness_schedule_deterministic_under_partitioning(spark):
    from webfilter.robots import politeness_schedule

    rows = [(i, f"t{i % 7}", "en", f"h{i % 2}", 2) for i in range(40)]
    df1 = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    a = sorted(map(tuple, politeness_schedule(df1.repartition(1)).collect()))
    b = sorted(map(tuple, politeness_schedule(df1.repartition(13)).collect()))
    assert a == b
