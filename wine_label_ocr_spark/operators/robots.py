"""robots.txt politeness: parse per-host rule groups and gate crawl URLs.

The ingest-side companion of the blocklist filter: a crawl that ignores
robots.txt cannot be re-crawled politely, and CC-style pipelines carry
the verdict as a column. Semantics implemented (the core of the public
Robots Exclusion Protocol, RFC 9309):

* user-agent groups — consecutive ``User-agent:`` lines stack onto one
  group; an exact (case-insensitive) agent match outranks the ``*``
  group; with neither, everything is allowed;
* ``Allow:`` / ``Disallow:`` path rules with full RFC 9309 §2.2.3
  special characters: ``*`` matches any run of octets anywhere in the
  rule, a trailing ``$`` anchors the match to the end of the path.
  The MOST SPECIFIC matching rule wins — specificity is the octet
  length of the rule value (wildcards included), the RFC's
  longest-match order — and on equal specificity Allow wins (the
  standard least-restrictive tie-break);
* an empty ``Disallow:`` value means "allow all" (the rule is void);
  rule values are kept verbatim — a trailing ``*`` is a matching no-op
  but still counts toward specificity; a ``$`` anywhere but the end is
  a literal octet (the Googlebot reading — ``$`` is only an anchor in
  final position).

Scale shape: parsing is per-host Python (genuinely line-oriented — the
one ``mapInPandas`` here; robots files are ≤ a few KB and one per host,
so this is the small side of everything). The URL check is pure column
algebra: the rules pack to one row per host (rules ≪ pages), one
host-keyed equi join, then per row a ``startswith`` match on the
rule's literal prefix (the only test wildcard-free rules need; a cheap
pre-filter for the rest) plus a ``regexp_like`` against the compiled
rule pattern for wildcard/anchored rules, and an
``array_max(struct(rule_len, allow))`` most-specific pick. The page
set is never aggregated.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame, functions as F

# Regex metacharacters escaped in compiled rule patterns.  The escape
# set and backslash-before-punctuation syntax are in the shared
# Java-regex ∩ RE2 dialect, so the same pattern string means the same
# thing to Spark's rlike and to any RE2-based twin.
_REGEX_META = set("\\.^$|?*+()[]{}")


def _esc(segment: str) -> str:
    return "".join("\\" + c if c in _REGEX_META else c for c in segment)


def compile_rule(value: str) -> tuple[str, str | None]:
    """RFC 9309 rule value → ``(literal_prefix, pattern_or_None)``.

    ``literal_prefix`` is the run of octets before the first ``*`` —
    every match must start with it, so it serves as a cheap
    ``startswith`` pre-filter.  ``pattern`` is ``None`` for plain
    prefix rules (no ``*``, no trailing ``$``): those need nothing
    beyond the prefix test.  Otherwise it is an anchored regex in the
    Java∩RE2 shared dialect: ``*`` → ``.*``, final ``$`` → end anchor,
    everything else escaped literal."""
    anchored = value.endswith("$")
    core = value[:-1] if anchored else value
    lit = core.split("*", 1)[0]
    if "*" not in core and not anchored:
        return lit, None
    pat = "^" + ".*".join(_esc(p) for p in core.split("*"))
    if anchored:
        pat += "$"
    return lit, pat


def _robots_groups(text: str):
    """Shared robots.txt group walker → ``(groups, sitemaps)`` where
    ``groups`` is ``[(agents, rules, crawl_delays)]`` (rules as
    ``(allow, value)``, delays as raw string values) and ``sitemaps``
    the file-global ``Sitemap:`` URLs (sitemaps.org scopes Sitemap to
    the whole file, not a group). A leading UTF-8 BOM is stripped
    (common in the wild; without this the first ``User-agent`` line is
    unrecognized and the whole first group silently voids — the unsafe
    direction)."""
    groups: list[tuple[list[str], list[tuple[bool, str]], list[str]]] = []
    sitemaps: list[str] = []
    cur_agents: list[str] = []
    cur_rules: list[tuple[bool, str]] = []
    cur_delays: list[str] = []
    in_agents = False
    for raw in (text or "").removeprefix("\ufeff").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field, value = field.strip().lower(), value.strip()
        if field == "user-agent":
            if not in_agents:
                if cur_agents:
                    groups.append((cur_agents, cur_rules, cur_delays))
                cur_agents, cur_rules, cur_delays = [], [], []
            cur_agents.append(value.lower())
            in_agents = True
        elif field in ("allow", "disallow"):
            in_agents = False
            if not cur_agents:
                continue  # rules before any user-agent line: void
            if field == "disallow" and value == "":
                continue  # empty Disallow == allow everything (void rule)
            cur_rules.append((field == "allow", value))
        elif field == "crawl-delay":
            in_agents = False
            if cur_agents:
                cur_delays.append(value)
        elif field == "sitemap":
            in_agents = False
            if value:
                sitemaps.append(value)
        else:
            in_agents = False
    if cur_agents:
        groups.append((cur_agents, cur_rules, cur_delays))
    return groups, sitemaps


def _chosen_groups(groups, agent: str):
    a = agent.lower()
    exact = [g for g in groups if a in g[0]]
    star = [g for g in groups if "*" in g[0]]
    return exact or star


def parse_robots(text: str, agent: str = "*") -> list[tuple[bool, str]]:
    """robots.txt → [(allow, rule_value)] for the best-matching agent
    group. Rule values are kept VERBATIM (wildcards included) — RFC 9309
    specificity is the octet length of the rule as written, so stripping
    even a redundant trailing ``*`` here would undercount it and flip
    tie-breaks (``Allow: /dir`` vs ``Disallow: /dir*`` must disallow).
    Pure function (tested directly; the Spark op maps it)."""
    groups, _ = _robots_groups(text)
    return [r for g in _chosen_groups(groups, agent) for r in g[1]]


def parse_robots_directives(text: str, agent: str = "*") \
        -> "tuple[int | None, list[str]]":
    """robots.txt → ``(crawl_delay_ms | None, sitemap_urls)``.

    ``Crawl-delay`` is the de-facto extension most crawlers honor:
    seconds (fractional allowed), scoped to the matched agent group
    like Allow/Disallow; several values in the chosen group(s) resolve
    to the MAX (the polite direction); unparseable, negative, or
    non-finite values are ignored (fail toward the crawler's default,
    which ``schedule_frontier`` supplies), and accepted values clamp
    to one day — ``inf``/``1e300`` in a hostile robots.txt must not
    overflow the int64 delay column or stall a host forever.
    ``Sitemap`` is file-global."""
    import math
    groups, sitemaps = _robots_groups(text)
    delays: list[int] = []
    for g in _chosen_groups(groups, agent):
        for v in g[2]:
            try:
                d = float(v)
            except ValueError:
                continue
            if math.isfinite(d) and d >= 0:
                delays.append(int(round(min(d, 86_400.0) * 1000)))
    return (max(delays) if delays else None), sitemaps


def parse_robots_rules(robots: DataFrame, host_col: str = "host",
                       robots_col: str = "robots_txt",
                       agent: str = "*") -> DataFrame:
    """(host, robots_txt) → exploded rule rows
    ``(host, allow, prefix, rule_len, pattern)`` via one Arrow-batched
    map.  ``prefix`` is the rule's literal prefix (the whole rule for
    wildcard-free rules), ``rule_len`` the RFC 9309 specificity — the
    OCTET length of the rule value as UTF-8 (wildcards included): the
    RFC orders rules by octets, so a non-ASCII rule like ``/café``
    counts 6, not 5, and octet-vs-codepoint tie-breaks match a
    compliant crawler — ``pattern`` the
    compiled regex for wildcard/``$`` rules — NULL when a plain prefix
    test suffices."""
    def run(batches: Iterable) -> Iterator:
        import pandas as pd
        for pdf in batches:
            out = []
            for host, txt in zip(pdf[host_col], pdf[robots_col]):
                for allow, value in parse_robots(txt or "", agent):
                    lit, pat = compile_rule(value)
                    out.append((host, allow, lit,
                                len(value.encode("utf-8")), pat))
            yield pd.DataFrame(out, columns=[host_col, "allow", "prefix",
                                             "rule_len", "pattern"])

    return robots.select(host_col, robots_col).mapInPandas(
        run, schema=f"{host_col} string, allow boolean, prefix string, "
                    "rule_len int, pattern string")


def robots_allowed(urls: DataFrame, rules: DataFrame,
                   url_col: str = "url") -> DataFrame:
    """Adds an ``allowed`` column: the most specific matching rule's
    verdict per URL against the host's rules (RFC 9309 octet
    specificity, Allow on ties); URLs on hosts with no rules (or no
    robots row at all, or no parseable host) are allowed. Input rows
    pass through unchanged otherwise.

    ``rules`` is ``parse_robots_rules``'s exploded shape, host first.
    It is packed to ONE row per host (``collect_list`` of
    ``struct(allow, prefix, rule_len, pattern)``), joined to the URLs
    on the host, and each row picks its verdict with array algebra:
    ``filter`` the matching rules, ``array_max`` over ``struct(rule_len,
    allow)`` — struct order IS the RFC tie-break, since ``true > false``
    makes Allow win equal specificity. No per-URL aggregation: the URL
    side crosses at most one host-keyed exchange (none once the packed
    rules broadcast), and the plan is stream-safe (a stream-static join
    plus pure maps).

    BOTH join sides are host-normalized the same way (lowercase,
    userinfo/port stripped — ``registrable_host`` on the URL,
    ``authority_host`` on the rules key) so ``https://h.com:443/x`` is
    governed by ``h.com``'s rules and a rules table keyed ``h.com:8080``
    still governs ``h.com`` URLs; the match target is path PLUS query
    (RFC 9309 matches ``/search?q=`` rules), fragment excluded."""
    from .textops import authority_host, registrable_host
    raw_path = F.regexp_extract(F.col(url_col),
                                r"^(?i:https?)://[^/?#]+([^#]*)", 1)
    # query-only URLs ('https://h.com?x=1') have an empty path: '/?x=1'
    path = F.when(raw_path == "", F.lit("/")) \
            .when(raw_path.startswith("?"), F.concat(F.lit("/"), raw_path)) \
            .otherwise(raw_path)
    probe = urls.withColumn("_host", registrable_host(F.col(url_col))) \
                .withColumn("_path", path)
    packed = (rules.select(
                  authority_host(F.col(rules.columns[0])).alias("_host"),
                  F.struct("allow", "prefix", "rule_len", "pattern")
                   .alias("_r"))
              .groupBy("_host").agg(F.collect_list("_r").alias("_rules")))
    match = lambda r: (  # noqa: E731
        F.col("_path").startswith(r["prefix"])
        & (r["pattern"].isNull()
           | F.regexp_like(F.col("_path"), r["pattern"])))
    best = F.array_max(F.transform(
        F.filter(F.col("_rules"), match),
        lambda r: F.struct(r["rule_len"].alias("rule_len"),
                           r["allow"].alias("allow"))))
    return (probe.join(packed, "_host", "left")
            .withColumn("allowed", F.coalesce(best["allow"], F.lit(True)))
            .drop("_host", "_path", "_rules"))


def robots_directives(robots: DataFrame, host_col: str = "host",
                      robots_col: str = "robots_txt",
                      agent: str = "*") -> DataFrame:
    """(host, robots_txt) → ``(host, crawl_delay_ms, sitemaps)`` — one
    row per input row via one Arrow-batched map; ``crawl_delay_ms`` is
    NULL when the file sets no ``Crawl-delay`` for the chosen agent
    group (``schedule_frontier``'s default then applies), ``sitemaps``
    the file-global Sitemap URLs.

    This is the glue that lets the robots fetch feed the frontier
    scheduler DIRECTLY — ``schedule_frontier(urls,
    robots_directives(robots), delay_col="crawl_delay_ms")`` — instead
    of a hand-built delay table (the r5 composition gap): the delay
    comes from the same robots bytes the Allow/Disallow gate parsed."""
    def run(batches: Iterable) -> Iterator:
        import pandas as pd
        for pdf in batches:
            out = []
            for host, txt in zip(pdf[host_col], pdf[robots_col]):
                delay_ms, sitemaps = parse_robots_directives(
                    txt or "", agent)
                out.append((host, delay_ms, sitemaps))
            yield pd.DataFrame(out, columns=[host_col, "crawl_delay_ms",
                                             "sitemaps"])

    return robots.select(host_col, robots_col).mapInPandas(
        run, schema=f"{host_col} string, crawl_delay_ms bigint, "
                    "sitemaps array<string>")
