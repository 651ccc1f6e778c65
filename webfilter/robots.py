"""robots.txt parsing + crawl-allow filtering (RFC 9309, simplified)
as pure Column/window algebra — no UDFs, fully DuckDB-replayable.

A web-scale curation pipeline must know which captures were
crawl-compliant; the reference's analog gate is membership filtering
of its article workset before processing (03_Curate_Articles.py
anti-join frontier). Here the gate is the real protocol:

* ``parse_robots`` turns (host, robots_txt) into grouped
  (host, group_id, agent, path, allow) rules: lines are exploded
  with position, comments stripped, directives case-insensitively
  tagged, and **group boundaries are a running sum over a lag
  window** (a User-agent line opens a new group unless the previous
  directive line was also User-agent — consecutive UA lines share
  their group, per the RFC). Empty Disallow values are the
  spec-defined no-op and drop out.
* ``robots_decisions`` applies the rules to (url, host, path) rows:
  per host only the MOST SPECIFIC matching group-set applies (groups
  naming the agent exactly if any exist, else the ``*`` groups);
  within it, longest-prefix match wins and allow beats disallow on
  ties; hosts without robots (or with no matching rule) default to
  allowed.

Simplifications vs full RFC 9309, documented on purpose: no ``*``
wildcards or ``$`` anchors inside paths (plain prefix match — the
dominant case), and no crawl-delay/sitemap handling (unknown
directives are ignored, as the spec requires).

Scale: parsing shuffles once on host (robots files are KB-sized and
one-per-host — uniform keys); the rules frame is a small dimension
(rules ∝ hosts, not pages) and is broadcast into the page-side join,
so the 100 TB page table never moves.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

RULES_COLS = ["host", "group_id", "agent", "path", "allow"]


def parse_robots(robots: DataFrame) -> DataFrame:
    """(host, robots_txt) -> (host, group_id, agent, path, allow).
    One window shuffle on host; everything else is JVM Column ops."""
    lines = robots.select(
        "host",
        F.posexplode(F.split(F.col("robots_txt"), "\n")).alias("pos", "raw"),
    ).withColumn("line", F.trim(F.regexp_replace("raw", "#.*$", "")))
    directive = F.lower(F.regexp_extract("line", r"^([A-Za-z-]+)\s*:", 1))
    value = F.trim(F.regexp_extract("line", r"^[A-Za-z-]+\s*:(.*)$", 1))
    tagged = (
        lines.select(
            "host",
            "pos",
            F.when(directive == "user-agent", F.lit("ua"))
            .when(directive == "allow", F.lit("allow"))
            .when(directive == "disallow", F.lit("disallow"))
            .alias("directive"),
            value.alias("value"),
        )
        # unknown directives (crawl-delay, sitemap, ...) are ignored
        .filter(F.col("directive").isNotNull())
    )
    w = Window.partitionBy("host").orderBy("pos")
    grp = (
        tagged.withColumn("prev", F.lag("directive").over(w))
        .withColumn(
            "new_group",
            (
                (F.col("directive") == "ua")
                & (F.col("prev").isNull() | (F.col("prev") != "ua"))
            ).cast("int"),
        )
        .withColumn("group_id", F.sum("new_group").over(w))
    )
    agents = grp.filter(F.col("directive") == "ua").select(
        "host", "group_id", F.lower("value").alias("agent")
    )
    rules = grp.filter(
        (F.col("directive") != "ua") & (F.col("value") != "")
    ).select(
        "host",
        "group_id",
        F.col("value").alias("path"),
        (F.col("directive") == "allow").alias("allow"),
    )
    return agents.join(rules, ["host", "group_id"]).select(*RULES_COLS)


def effective_rules(rules: DataFrame, agent: str) -> DataFrame:
    """Per host, the rule set of the most specific matching group-set
    for ``agent``: groups naming it exactly when any exist, else the
    ``*`` groups. Non-matching specific groups never apply."""
    agent = agent.lower()
    sel = rules.filter(
        (F.col("agent") == agent) | (F.col("agent") == "*")
    ).withColumn("spec", (F.col("agent") == agent).cast("int"))
    wh = Window.partitionBy("host")
    return (
        sel.withColumn("max_spec", F.max("spec").over(wh))
        .filter(F.col("spec") == F.col("max_spec"))
        .select("host", F.col("path").alias("rule_path"), "allow")
        .distinct()
    )


def robots_decisions(
    urls: DataFrame, rules: DataFrame, agent: str
) -> DataFrame:
    """urls(url, host, upath) x parse_robots rules -> one row per url:
    (url, allowed, rule_path). Longest matching prefix wins, allow
    wins length ties (RFC 9309 precedence), no match or no robots ->
    allowed with NULL rule_path. The rules side is broadcast — the
    page side never shuffles."""
    eff = effective_rules(rules, agent)
    matches = urls.join(F.broadcast(eff), "host").filter(
        F.col("upath").startswith(F.col("rule_path"))
    )
    wu = Window.partitionBy("url").orderBy(
        F.length("rule_path").desc(), F.col("allow").desc(), F.col("rule_path")
    )
    best = (
        matches.withColumn("rn", F.row_number().over(wu))
        .filter(F.col("rn") == 1)
        .select("url", "allow", "rule_path")
    )
    return urls.join(best, "url", "left").select(
        "url",
        F.coalesce(F.col("allow"), F.lit(True)).alias("allowed"),
        "rule_path",
    )


def url_path(url: Column) -> Column:
    """Path component of an absolute URL, query/fragment stripped;
    empty path normalizes to '/' (the robots match subject)."""
    p = F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)?", 1)
    return F.when(p == "", F.lit("/")).otherwise(p)


def rules_dim(rules: DataFrame, agent: str) -> DataFrame:
    """(host, rules array<struct<path,allow>>) — the per-host
    effective rule set for ``agent`` collapsed to ONE broadcastable
    row per host. This is the shuffle-free deployment shape: the big
    page side joins it broadcast and decides per row with HOFs
    (``allowed_expr``) — no window, no exchange on the 100 TB side
    (robots_decisions' per-url window is the small-frame/oracle
    form)."""
    eff = effective_rules(rules, agent)
    return eff.groupBy("host").agg(
        F.collect_list(
            F.struct(F.col("rule_path").alias("path"), F.col("allow"))
        ).alias("rules")
    )


def allowed_expr(upath: Column, rules_col: Column) -> Column:
    """Pure-Column RFC 9309 precedence over a rules array: filter to
    matching prefixes, array_max a (length, allow) struct — longest
    match wins, allow beats disallow on equal length (struct
    comparison is field-ordered; true > false) — and no match (or no
    robots for the host: NULL array) means allowed."""
    matches = F.filter(rules_col, lambda r: upath.startswith(r["path"]))
    best = F.array_max(
        F.transform(
            matches,
            lambda r: F.struct(
                F.length(r["path"]).alias("l"), r["allow"].alias("allow")
            ),
        )
    )
    return F.coalesce(best["allow"], F.lit(True))


def parse_sitemaps(df: DataFrame) -> DataFrame:
    """Sitemap ingestion — the crawl-discovery companion to robots:
    (host, sitemap_xml) -> one row per <url> entry with
    (host, loc, lastmod timestamp, priority double). Uses Spark's
    native XML parser (``from_xml``, PERMISSIVE): fields bind
    PER ENTRY — a <url> missing <lastmod> yields NULL there instead
    of misaligning later entries (the failure mode of positional
    xpath-array zipping) — and malformed XML degrades to NULL rows
    that are filtered, never a task crash (``xpath`` raises on real-
    web garbage; measured). Map-only Column expression — no UDF, no
    shuffle; at 100 TB sitemaps are a per-host metadata scan."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField(
                "url",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("loc", T.StringType()),
                            T.StructField("lastmod", T.StringType()),
                            T.StructField("priority", T.StringType()),
                        ]
                    )
                ),
            )
        ]
    )
    return (
        df.select(
            "host",
            F.explode_outer(
                F.from_xml(F.col("sitemap_xml"), schema)["url"]
            ).alias("u"),
        )
        .filter(F.col("u.loc").isNotNull())
        .select(
            "host",
            F.col("u.loc").alias("loc"),
            F.to_date("u.lastmod").cast("timestamp").alias("lastmod"),
            F.col("u.priority").cast("double").alias("priority"),
        )
    )


def synth_robots_text(source: Column, h: Column) -> Column:
    """Deterministic robots.txt body for a synthetic host (oracle
    replays the identical concat): comments, case-variant directives,
    an ignored Crawl-delay, a blank line, a two-User-agent group,
    a spec-no-op empty Disallow, and a non-matching 'blocked'
    group — every parser branch exercised."""
    return F.concat_ws(
        "\n",
        F.concat(F.lit("# robots for "), source),
        F.lit("User-agent: *"),
        F.lit("Disallow: /private"),
        F.lit("Allow: /private/ok"),
        F.lit("Crawl-delay: 5"),
        F.lit(""),
        F.concat(F.lit("User-agent: crawler"), (h % 3).cast("string")),
        F.concat(F.lit("User-agent: extra"), h.cast("string")),
        F.lit("Disallow: /p/1"),
        F.lit("Allow: /p/12"),
        F.lit("Disallow:"),
        F.lit("user-AGENT: blocked"),
        F.lit("disallow: /"),
    )


def politeness_schedule(df: DataFrame) -> DataFrame:
    """Per-host polite fetch scheduling: rank each host's pending
    fetches by a deterministic content-hash priority and space them
    `crawl_delay_s` seconds apart (fetch_offset_s), so no host is
    hit faster than its robots Crawl-delay while the frontier stays
    fully parallel ACROSS hosts — the standard crawl-frontier
    politeness shape (Heydon & Najork, Mercator 1999 §3.3).

    The per-host delay here is derived deterministically
    (1 + len(host) % 4 s) as a stand-in for joining the real
    Crawl-delay out of `rules_dim` — swapping in that broadcast dim
    join changes one Column expression.

    Scale shape: ONE shuffle (window partitioned by host). Hosts are
    the natural unit of politeness so the partition count equals the
    host count; a single mega-host serializes by DESIGN (that is the
    politeness constraint, not a skew bug) — wall-clock at 10^12
    urls is bounded by max(per-host queue) * delay regardless of
    engine, and the scheduler emits offsets, not sleeps, so the
    compute itself never blocks.
    """
    delay = (F.lit(1) + F.length(F.col("source")) % 4).cast("bigint")
    w = Window.partitionBy(F.col("source")).orderBy(
        F.md5(F.coalesce(F.col("text"), F.lit(""))), F.col("doc_id")
    )
    rn = F.row_number().over(w).cast("bigint")
    return df.select(
        F.col("doc_id"),
        F.col("source").alias("host"),
        rn.alias("fetch_rank"),
        delay.alias("crawl_delay_s"),
        ((rn - F.lit(1)) * delay).alias("fetch_offset_s"),
    )
