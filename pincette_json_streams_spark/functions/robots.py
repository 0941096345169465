"""Robots Exclusion Protocol (RFC 9309): parse robots.txt and filter
URL streams by it — the politeness tier of a crawl pipeline, between
the frontier and the fetch.

Spark-first split:

- :func:`robots_rules` parses robots.txt documents in a per-row Arrow
  map (zero shuffle) into a RULES TABLE — one row per
  ``(host, agent, allow, pattern, regex, pattern_len)``.  The regex
  translation (RFC wildcards: ``*`` any-sequence, ``$`` end anchor;
  everything else literal) happens ONCE here, at parse time.
- :func:`url_allowed` evaluates the rules with NATIVE expressions
  only: a broadcastable equi-join on host, ``RLIKE`` with the
  precompiled per-rule regex, and a ``max_by`` argmax for the RFC
  longest-match rule (most octets wins; ``Allow`` wins ties).  No
  Python in the match path — rules tables are tiny (a few rules per
  host) while the URL side is the crawl frontier, so the join
  broadcasts the rules and the whole decision runs inside codegen.

RFC subset, stated: group selection is exact case-insensitive
user-agent token match, falling back to the ``*`` group only when the
host has no matching specific group (the RFC's "most specific match"
over product-token prefixes collapses to this for single-token
agents).  Empty patterns (``Disallow:`` with no value = allow-all in
the wild) are dropped as rules, which leaves the default-allow
outcome the RFC prescribes.  Unparseable or absent robots.txt for a
host means no rows, which means every URL on that host is allowed —
the RFC default.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pincette_json_streams_spark.functions.rows import map_rows

__all__ = ["robots_rules", "url_allowed", "parse_robots",
           "pattern_to_regex", "robots_allowed_mirror"]


def pattern_to_regex(pattern: str) -> str:
    """RFC 9309 path pattern -> anchored Java/RE2-safe regex: ``*``
    matches any byte sequence, a TRAILING ``$`` anchors the end,
    every other character is literal."""
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    parts = [re.escape(p) for p in body.split("*")]
    return "^" + ".*".join(parts) + ("$" if anchored else "")


def parse_robots(text: str) -> list:
    """One robots.txt -> [(agent, allow, pattern)] with group
    semantics: consecutive ``User-agent`` lines open a group that the
    following Allow/Disallow lines join; a rule line after rules
    starts collecting for the last group only per RFC.  Keys are
    case-insensitive; ``#`` comments strip; unknown directives are
    ignored (Crawl-delay, Sitemap, ...)."""
    if not text:
        return []
    rules = []
    agents: list[str] = []
    collecting = False  # False while stacking consecutive UA lines
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if collecting:
                agents = []
                collecting = False
            agents.append(value.lower())
        elif key in ("allow", "disallow"):
            collecting = True
            if not value:
                continue  # empty pattern = no rule (default allow)
            for a in agents:
                rules.append((a, key == "allow", value))
    return rules


_RULES_FIELDS = [
    ("host", "string"), ("agent", "string"), ("allow", "boolean"),
    ("pattern", "string"), ("regex", "string"), ("pattern_len", "int"),
]


def robots_rules(
    df: DataFrame,
    robots_col: str = "robots",
    host_col: str = "host",
) -> DataFrame:
    """Parse one robots.txt per row into the rules table
    :func:`url_allowed` consumes.  Per-row Arrow flat-map, zero
    shuffle; the output is a few rows per host — the broadcastable
    side of the crawl-frontier join."""

    def kernel(hosts, texts):
        rows = [(i, host, agent, allow, pattern, pattern_to_regex(pattern),
                 len(pattern.encode("utf-8")))
                for i, (host, text) in enumerate(zip(hosts, texts))
                for agent, allow, pattern in parse_robots(text)]
        return zip(*rows)

    return map_rows(df, kernel, [host_col, robots_col], _RULES_FIELDS,
                    keep=[])


def _url_parts(url):
    # host: strip scheme, creds, port; path: everything from the
    # first / after the authority (default "/"), query included per
    # the RFC's match-on-path-and-query
    no_scheme = F.regexp_replace(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://",
                                 "")
    no_creds = F.regexp_replace(no_scheme, r"^[^/@]*@", "")
    host = F.lower(F.regexp_extract(no_creds, r"^([^/:]*)", 1))
    path = F.regexp_extract(no_creds, r"(/.*)$", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    return host, path


def url_allowed(
    urls: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    agent: str = "*",
    out_col: str = "allowed",
) -> DataFrame:
    """Append ``out_col`` (boolean) to every URL row: may ``agent``
    fetch it under the host's rules?

    Native all the way: the decision table computes over DISTINCT
    (host, path) — crawl frontiers repeat hosts and often paths, and
    the rules join must not fan out the full URL payload — then joins
    back onto the stream.  Group selection (specific agent beats
    ``*``) is a per-host max; longest-match is ``max_by`` over
    (pattern_len, allow), implementing "most octets wins, Allow wins
    ties"; no matching rule (or no rules at all for the host) =
    allowed, the RFC default."""
    a = agent.lower()
    host, path = _url_parts(F.col(url_col))
    keyed = urls.withColumn("__rhost", host).withColumn("__rpath", path)
    pairs = keyed.select("__rhost", "__rpath").distinct()

    r = rules.filter(F.col("agent").isin([a, "*"]) if a != "*"
                     else (F.col("agent") == "*"))
    if a != "*":
        # hosts with a specific-agent group ignore their * group
        has_specific = r.groupBy("host").agg(
            F.max((F.col("agent") == a).cast("int")).alias("__spec"))
        r = (r.join(has_specific, "host")
             .filter((F.col("agent") == a)
                     | (F.col("__spec") == 0))
             .drop("__spec"))

    cand = (
        pairs.join(F.broadcast(r),
                   pairs["__rhost"] == r["host"], "left")
        .withColumn("__m", F.regexp_like(F.col("__rpath"),
                                         F.col("regex")))
    )
    decision = (
        cand.groupBy("__rhost", "__rpath")
        .agg(F.coalesce(
            F.max_by(
                F.col("allow"),
                F.when(F.col("__m"), F.struct(
                    F.col("pattern_len"),
                    F.col("allow").cast("int").alias("a")))),
            F.lit(True)).alias(out_col))
    )
    return (keyed.join(decision, ["__rhost", "__rpath"])
            .drop("__rhost", "__rpath"))


def robots_allowed_mirror(robots_text: str, url: str,
                          agent: str = "*") -> bool:
    """Pure-Python mirror of parse + group-select + longest-match —
    the Hypothesis twin for :func:`url_allowed`."""
    rules = parse_robots(robots_text)
    a = agent.lower()
    group = [x for x in rules if x[0] == a] or \
        [x for x in rules if x[0] == "*"]
    m = re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://", url)
    rest = url[m.end():] if m else url
    rest = re.sub(r"^[^/@]*@", "", rest)
    i = rest.find("/")
    path = rest[i:] if i >= 0 else "/"
    best = None
    for _, allow, pattern in group:
        if re.search(pattern_to_regex(pattern), path):
            key = (len(pattern.encode("utf-8")), allow)
            if best is None or key > best:
                best = key
    return True if best is None else best[1]
