"""Tests for robots.txt politeness (operators/robots.py)."""

from __future__ import annotations

from wine_label_ocr_spark.operators.robots import (
    parse_robots, parse_robots_rules, robots_allowed, robots_directives)

R1 = "User-agent: *\nDisallow: /private/\nAllow: /private/ok\n"
R2 = "User-agent: badbot\nDisallow: /\n\nUser-agent: *\nDisallow: /tmp/\n"


def test_parse_robots_groups_and_rules():
    assert parse_robots(R1) == [(False, "/private/"), (True, "/private/ok")]
    # exact agent outranks *; agent match is case-insensitive
    assert parse_robots(R2) == [(False, "/tmp/")]
    assert parse_robots(R2, agent="BadBot") == [(False, "/")]
    # stacked user-agent lines share one group; unmatched agent -> []
    r3 = "User-agent: a\nUser-agent: b\nDisallow: /x\n"
    assert parse_robots(r3, "b") == [(False, "/x")]
    assert parse_robots(r3, "z") == []
    # empty Disallow is void; rule values kept VERBATIM (specificity
    # counts wildcards - see the /dir-vs-/dir* tie-break test)
    assert parse_robots("User-agent: *\nDisallow:\n") == []
    assert parse_robots(
        "User-agent: *\nDisallow: /a*\nDisallow: /b$\nDisallow: /c*d\n"
    ) == [(False, "/a*"), (False, "/b$"), (False, "/c*d")]
    # UTF-8 BOM must not void the first group (fail-open otherwise)
    assert parse_robots("\ufeffUser-agent: *\nDisallow: /private/\n") \
        == [(False, "/private/")]
    # comments and junk lines tolerated
    assert parse_robots("# note\nUser-agent: * # inline\nDisallow: /q\nnoise\n") \
        == [(False, "/q")]
    assert parse_robots("") == [] and parse_robots(None) == []


def test_robots_allowed_longest_match(spark):
    robots = spark.createDataFrame(
        [("h0.com", R1), ("h1.com", "User-agent: *\nDisallow: /\n"),
         ("h2.com", ""), ("h3.com", R2)],
        "host string, robots_txt string")
    rules = parse_robots_rules(robots)
    urls = spark.createDataFrame(
        [("https://h0.com/public/x",), ("https://h0.com/private/x",),
         ("https://h0.com/private/ok/x",), ("https://H1.com/any",),
         ("https://h2.com/x",), ("https://h3.com/tmp/z",),
         ("https://h3.com/fine",), ("https://norobots.com/y",),
         ("notaurl",)],
        "url string")
    got = {r["url"]: r["allowed"]
           for r in robots_allowed(urls, rules).collect()}
    assert got == {
        "https://h0.com/public/x": True,
        "https://h0.com/private/x": False,       # /private/ disallow
        "https://h0.com/private/ok/x": True,     # longer Allow wins
        "https://H1.com/any": False,             # host case-insensitive
        "https://h2.com/x": True,                # empty robots
        "https://h3.com/tmp/z": False,
        "https://h3.com/fine": True,
        "https://norobots.com/y": True,          # no robots row
        "notaurl": True,                         # non-URL rows pass
    }


def test_compile_rule_matrix():
    from wine_label_ocr_spark.operators.robots import compile_rule
    # plain prefix: no pattern needed
    assert compile_rule("/private/") == ("/private/", None)
    # mid-pattern *: literal prefix before it, .* in the regex
    assert compile_rule("/a/*/secret") == ("/a/", "^/a/.*/secret")
    # trailing $ anchors; regex metachars in the path are escaped
    assert compile_rule("/*.pdf$") == ("/", "^/.*\\.pdf$")
    assert compile_rule("/end$") == ("/end", "^/end$")
    # $ anywhere but the end is a literal octet
    assert compile_rule("/a$b") == ("/a$b", None)
    assert compile_rule("/a$b*") == ("/a$b", "^/a\\$b.*")


def test_robots_wildcard_and_anchor_matching(spark):
    import re
    from wine_label_ocr_spark.operators.robots import compile_rule
    # the compiled pattern agrees with Python re on a matrix of paths
    for rule, path, want in [
        ("/*.pdf$", "/docs/a.pdf", True),
        ("/*.pdf$", "/docs/a.pdfx", False),
        ("/a/*/secret", "/a/b/secret", True),
        ("/a/*/secret", "/a/b/secret/more", True),
        ("/a/*/secret", "/a/secret", False),
        ("/end$", "/end", True),
        ("/end$", "/end/more", False),
        ("/p*q*r", "/pxxqyyr", True),
        ("/p*q*r", "/pqr", True),
        ("/p*q*r", "/prq", False),
    ]:
        lit, pat = compile_rule(rule)
        got = path.startswith(lit) and (pat is None
                                        or re.search(pat, path) is not None)
        assert got == want, (rule, path)

    robots = spark.createDataFrame(
        [("w.com", "User-agent: *\n"
                   "Disallow: /*.pdf$\n"
                   "Allow: /docs/keep*\n"
                   "Disallow: /docs/\n"
                   "Disallow: /a/*/secret\n"
                   "Disallow: /exact$\n")],
        "host string, robots_txt string")
    rules = parse_robots_rules(robots)
    urls = spark.createDataFrame(
        [("https://w.com/docs/keep/f.pdf",),   # Allow len 11 beats /*.pdf$ 7
         ("https://w.com/docs/old/f.pdf",),    # /*.pdf$ wins -> disallowed
         ("https://w.com/docs/old/f.txt",),    # /docs/ wins -> disallowed
         ("https://w.com/a/b/secret",),        # mid-pattern * hit
         ("https://w.com/a/secret",),          # no middle segment: * miss
         ("https://w.com/exact",),             # $ exact hit
         ("https://w.com/exact/more",),        # $ rejects longer path
         ("https://w.com/free",)],
        "url string")
    got = {r["url"]: r["allowed"]
           for r in robots_allowed(urls, rules).collect()}
    assert got == {
        "https://w.com/docs/keep/f.pdf": True,
        "https://w.com/docs/old/f.pdf": False,
        "https://w.com/docs/old/f.txt": False,
        "https://w.com/a/b/secret": False,
        "https://w.com/a/secret": True,
        "https://w.com/exact": False,
        "https://w.com/exact/more": True,
        "https://w.com/free": True,
    }


def test_robots_rules_host_normalized(spark):
    # rules keyed 'HOST:8080' / 'user@host' still govern plain-host URLs
    robots = spark.createDataFrame(
        [("Ex.com:8080", "User-agent: *\nDisallow: /no\n"),
         ("bob@deny.com", "User-agent: *\nDisallow: /\n")],
        "host string, robots_txt string")
    rules = parse_robots_rules(robots)
    urls = spark.createDataFrame(
        [("https://ex.com/no/x",), ("https://ex.com:443/ok",),
         ("https://deny.com/any",)], "url string")
    got = {r["url"]: r["allowed"]
           for r in robots_allowed(urls, rules).collect()}
    assert got == {"https://ex.com/no/x": False,
                   "https://ex.com:443/ok": True,
                   "https://deny.com/any": False}


def test_robots_allowed_path_shapes_and_ported_key(spark):
    # the match target is path plus query: no path -> '/', query-only
    # -> '/?q=1', fragment dropped; a rules key with a port governs the
    # bare host and every port of it
    robots = spark.createDataFrame(
        [("h0.com", "User-agent: *\nDisallow: /$\nDisallow: /?q=\n"),
         ("h1.com:8080", "User-agent: *\nDisallow: /\n")],
        "host string, robots_txt string")
    rules = parse_robots_rules(robots)
    urls = spark.createDataFrame(
        [("https://h0.com",), ("https://h0.com/#top",),
         ("https://h0.com?q=1",), ("https://h0.com?r=1",),
         ("https://h0.com/x",), ("https://h1.com",),
         ("https://h1.com/any?q=1",), ("https://h1.com:8080/x",),
         ("https://h2.com",)],
        "url string")
    got = {r["url"]: r["allowed"]
           for r in robots_allowed(urls, rules).collect()}
    assert got == {
        "https://h0.com": False,               # '/' hits '/$'
        "https://h0.com/#top": False,          # fragment excluded
        "https://h0.com?q=1": False,           # '/?q=1' hits '/?q='
        "https://h0.com?r=1": True,            # '/?r=1' misses both
        "https://h0.com/x": True,
        "https://h1.com": False,               # ported key governs h1.com
        "https://h1.com/any?q=1": False,
        "https://h1.com:8080/x": False,
        "https://h2.com": True,                # no robots row
    }


def test_robots_empty_inputs(spark):
    # an empty robots table yields typed empty frames, and an empty
    # rules table allows every URL (rows pass through unchanged)
    robots = spark.createDataFrame([], "host string, robots_txt string")
    rules = parse_robots_rules(robots)
    assert rules.collect() == []
    assert rules.schema.simpleString() == (
        "struct<host:string,allow:boolean,prefix:string,rule_len:int,"
        "pattern:string>")
    dirs = robots_directives(robots)
    assert dirs.collect() == []
    assert dirs.schema.simpleString() == (
        "struct<host:string,crawl_delay_ms:bigint,sitemaps:array<string>>")
    urls = spark.createDataFrame(
        [(1, "https://h.com/x"), (2, "https://h.com"), (3, "notaurl"),
         (4, None)], "id int, url string")
    got = robots_allowed(urls, rules)
    assert got.columns == ["id", "url", "allowed"]
    assert sorted(tuple(r) for r in got.collect()) == [
        (1, "https://h.com/x", True), (2, "https://h.com", True),
        (3, "notaurl", True), (4, None, True)]


def test_robots_specificity_counts_wildcards(spark):
    # RFC 9309: len('/dir*')=5 > len('/dir')=4, so the Disallow wins;
    # stripping the redundant trailing * would flip this to allowed
    robots = spark.createDataFrame(
        [("t.com", "User-agent: *\nAllow: /dir\nDisallow: /dir*\n")],
        "host string, robots_txt string")
    rules = parse_robots_rules(robots)
    urls = spark.createDataFrame(
        [("https://t.com/dir/x",), ("https://t.com/other",)], "url string")
    got = {r["url"]: r["allowed"]
           for r in robots_allowed(urls, rules).collect()}
    assert got == {"https://t.com/dir/x": False,
                   "https://t.com/other": True}


def test_specificity_is_octets_not_codepoints(spark):
    # RFC 9309 orders rules by OCTET length: 'Allow: /café' is 6 octets
    # (5 codepoints) and must TIE 'Disallow: /caf*Z' (6 octets) on
    # /caféZ — and on a tie Allow wins. Codepoint counting (5 < 6)
    # would flip the verdict to disallowed.
    robots = spark.createDataFrame(
        [("h.com", "User-agent: *\nAllow: /café\nDisallow: /caf*Z\n")],
        "host string, robots_txt string")
    rules = parse_robots_rules(robots)
    lens = {r["prefix"]: r["rule_len"] for r in rules.collect()}
    assert lens["/café"] == 6 and lens["/caf"] == 6
    urls = spark.createDataFrame([("https://h.com/caféZ",)], "url string")
    [row] = robots_allowed(urls, rules).collect()
    assert row["allowed"] is True


def test_parse_robots_directives_crawl_delay_and_sitemap():
    from wine_label_ocr_spark.operators.robots import parse_robots_directives
    t = ("Sitemap: https://h.com/s1.xml\n"
         "User-agent: *\nCrawl-delay: 0.5\nDisallow: /x\n\n"
         "User-agent: bot\nCrawl-delay: 9\nCrawl-delay: 2\n"
         "Sitemap: https://h.com/s2.xml\n")
    # group-scoped delay (fractional seconds -> ms); sitemaps global
    assert parse_robots_directives(t) == \
        (500, ["https://h.com/s1.xml", "https://h.com/s2.xml"])
    # several delays in the chosen group -> MAX (polite direction)
    assert parse_robots_directives(t, "bot")[0] == 9000
    # unparseable / negative / absent -> None (scheduler default)
    assert parse_robots_directives("User-agent: *\nCrawl-delay: nope\n")[0] is None
    assert parse_robots_directives("User-agent: *\nCrawl-delay: -1\n")[0] is None
    assert parse_robots_directives("")[0] is None
    # delay lines do not merge adjacent groups or leak across groups
    assert parse_robots_directives(
        "User-agent: a\nCrawl-delay: 3\nUser-agent: b\nCrawl-delay: 7\n",
        "a")[0] == 3000


def test_robots_directives_feed_frontier(spark):
    from wine_label_ocr_spark.operators.frontier import schedule_frontier
    from wine_label_ocr_spark.operators.robots import robots_directives
    robots = spark.createDataFrame(
        [("slow.com", "User-agent: *\nCrawl-delay: 2\nDisallow: /x\n"),
         ("fast.com", "User-agent: *\nDisallow: /y\n")],
        "host string, robots_txt string")
    d = robots_directives(robots)
    got = {r["host"]: (r["crawl_delay_ms"], r["sitemaps"])
           for r in d.collect()}
    assert got == {"slow.com": (2000, []), "fast.com": (None, [])}
    urls = spark.createDataFrame(
        [("https://slow.com/a",), ("https://slow.com/b",),
         ("https://fast.com/a",), ("https://fast.com/b",)], "url string")
    sched = schedule_frontier(urls, d, default_delay_ms=250,
                              delay_col="crawl_delay_ms")
    rows = {r["url"]: (r["delay_ms"], r["fetch_offset_ms"])
            for r in sched.collect()}
    assert rows["https://slow.com/b"] == (2000, 2000)
    assert rows["https://fast.com/b"] == (250, 250)  # default fills NULL


def test_crawl_delay_hostile_values_ignored_or_clamped():
    from wine_label_ocr_spark.operators.robots import parse_robots_directives
    # non-finite values are ignored (default applies), huge finite
    # values clamp to one day -- neither may overflow the bigint column
    assert parse_robots_directives("User-agent: *\nCrawl-delay: inf\n")[0] is None
    assert parse_robots_directives("User-agent: *\nCrawl-delay: nan\n")[0] is None
    assert parse_robots_directives(
        "User-agent: *\nCrawl-delay: 1e300\n")[0] == 86_400_000
    assert parse_robots_directives(
        "User-agent: *\nCrawl-delay: 999999\n")[0] == 86_400_000
