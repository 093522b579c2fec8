"""Tests for link-graph operators (operators/graph.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from wine_label_ocr_spark.operators import graph as G


def test_extract_outlinks_shapes(spark):
    html = ('<p>x</p><a href="https://b.com/x">l</a>'
            "<A HREF='https://c.com/'>z</A>"
            '<a class="k" href="https://d.com/p?q=1">m</a>'
            '<a name="n">no href</a><a href="#frag">skip</a>'
            '<a href="/rel/1">rel</a>')
    df = spark.createDataFrame([("u1", html), ("u2", "<p>no links</p>")],
                               "url string, html string")
    got = sorted((r["src"], r["href"])
                 for r in G.extract_outlinks(df).collect())
    assert got == [("u1", "/rel/1"), ("u1", "https://b.com/x"),
                   ("u1", "https://c.com/"), ("u1", "https://d.com/p?q=1")]
    # pure map: zero Exchange
    plan = G.extract_outlinks(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_host_edges_and_pagerank_exact(spark):
    links = spark.createDataFrame(
        [("https://A.com/1", "https://b.com/x"),
         ("https://a.com/2", "https://b.com/y"),     # same host edge -> distinct
         ("https://a.com/1", "https://c.com/"),
         ("https://b.com/1", "https://c.com/z"),
         ("https://c.com/9", "https://a.com/"),
         ("https://c.com/9", "/relative/skip"),
         ("notaurl", "https://x.com/")],
        "src string, href string")
    edges = G.host_edges(links)
    got = sorted((r["src_host"], r["dst_host"]) for r in edges.collect())
    assert got == [("a.com", "b.com"), ("a.com", "c.com"),
                   ("b.com", "c.com"), ("c.com", "a.com")]

    # exact fixed-point ranks == pure-python reference, any iteration count
    for k in (1, 5):
        out = {r["host"]: r["rank_scaled"]
               for r in G.pagerank(edges, n_iters=k).collect()}
        SCALE, n = G.PR_SCALE, 3
        base, tel = SCALE // n, (SCALE * 15) // 100 // n
        deg = {"a.com": 2, "b.com": 1, "c.com": 1}
        ine = {"b.com": ["a.com"], "c.com": ["a.com", "b.com"],
               "a.com": ["c.com"]}
        r = dict.fromkeys(deg, base)
        for _ in range(k):
            r = {h: tel + (85 * sum(r[s] // deg[s] for s in ine[h])) // 100
                 for h in r}
        assert out == r, k
    # total mass conserved-ish and deterministic across reruns
    again = {r["host"]: r["rank_scaled"]
             for r in G.pagerank(edges, n_iters=5).collect()}
    assert again == out


def test_pagerank_dangling_and_empty(spark):
    # dangling sink: d has no out-edges; it accumulates but leaks its mass
    edges = spark.createDataFrame([("a", "d"), ("d2", "a")][:1] +
                                  [("b", "d"), ("c", "a")],
                                  "src_host string, dst_host string")
    out = {r["host"]: r["rank_scaled"]
           for r in G.pagerank(edges, n_iters=3).collect()}
    assert set(out) == {"a", "b", "c", "d"}
    assert out["d"] > out["b"]  # two in-edges beat zero

    empty = spark.createDataFrame([], "src_host string, dst_host string")
    assert G.pagerank(empty, n_iters=2).count() == 0


def test_resolve_href_matrix(spark):
    from wine_label_ocr_spark.operators.textops import resolve_href
    cases = [  # (base, href, expected)
        ("https://a.com/dir/sub/page.html", "x/../y.html",
         "https://a.com/dir/sub/y.html"),
        ("https://a.com/dir/sub/page.html", "../up.html",
         "https://a.com/dir/up.html"),
        ("https://a.com/dir/sub/page.html", "../../../../root.html",
         "https://a.com/root.html"),            # .. never pops past root
        ("https://a.com/dir/sub/page.html", "/abs/p",
         "https://a.com/abs/p"),
        ("https://a.com/dir/sub/page.html", "//cdn.com/lib.js",
         "https://cdn.com/lib.js"),             # scheme-relative
        ("https://a.com/dir/sub/page.html?old=1", "?q=2",
         "https://a.com/dir/sub/page.html?q=2"),  # query-only
        ("https://a.com/p?k=1", "", "https://a.com/p?k=1"),  # empty = base
        ("https://a.com/dir/sub/page.html", "x.html#frag",
         "https://a.com/dir/sub/x.html"),       # fragment stripped
        ("https://a.com/dir/sub/page.html", "mailto:a@b.c", "mailto:a@b.c"),
        ("https://a.com/p", "javascript:void(0)", "javascript:void(0)"),
        ("https://a.com/dir/sub/page.html", "https://out.com/a/./b",
         "https://out.com/a/b"),                # strict: rds on abs hrefs
        ("https://a.com", "rel.html", "https://a.com/rel.html"),  # empty base path
        ("https://a.com/dir/", "./", "https://a.com/dir/"),
        ("https://a.com/dir/sub/page.html", "a/b/..",
         "https://a.com/dir/sub/a/"),           # trailing .. keeps slash
        ("https://a.com/a//b/c", "d", "https://a.com/a//b/d"),  # // preserved
        ("https://a.com/dir/sub/page.html", "HTTP://UP.com/Q",
         "HTTP://UP.com/Q"),                    # scheme case-insensitive
    ]
    df = spark.createDataFrame([(b, h) for b, h, _ in cases],
                               "base string, href string")
    got = [r["r"] for r in df.select(resolve_href(
        F.col("base"), F.col("href")).alias("r")).collect()]
    for (b, h, want), g in zip(cases, got):
        assert g == want, (b, h, g, want)


def test_extract_outlinks_resolved_with_base_tag(spark):
    html1 = ('<a href="rel/x.html">r</a><a href="/abs">a</a>'
             '<a href="https://ext.com/e">e</a>')
    html2 = ('<head><base href="/b/"></head>'
             '<a href="rel/x.html">r</a><a href="?q=1">q</a>')
    df = spark.createDataFrame(
        [("https://h.com/d/page.html", html1),
         ("https://h.com/d/page.html?z=0", html2)],
        "url string, html string")
    got = sorted((r["src"], r["href"], r["resolved"]) for r in
                 G.extract_outlinks(df, resolve=True).collect())
    assert got == [
        ("https://h.com/d/page.html", "/abs", "https://h.com/abs"),
        ("https://h.com/d/page.html", "https://ext.com/e",
         "https://ext.com/e"),
        ("https://h.com/d/page.html", "rel/x.html",
         "https://h.com/d/rel/x.html"),
        ("https://h.com/d/page.html?z=0", "?q=1", "https://h.com/b/?q=1"),
        ("https://h.com/d/page.html?z=0", "rel/x.html",
         "https://h.com/b/rel/x.html"),
    ]
    # still a pure map: zero Exchange
    plan = G.extract_outlinks(df, resolve=True) \
            ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_host_edges_resolve_relative(spark):
    links = spark.createDataFrame(
        [("https://a.com/d/p", "/rel/1"),          # self-host edge now
         ("https://a.com/d/p", "x.html"),          # dedups into the same
         ("https://a.com/d/p", "https://b.com/y"),
         ("https://a.com/d/p", "mailto:x@y.z")],   # non-http drops out
        "src string, href string")
    got = sorted((r["src_host"], r["dst_host"]) for r in
                 G.host_edges(links, resolve_relative=True).collect())
    assert got == [("a.com", "a.com"), ("a.com", "b.com")]


def test_pagerank_dangling_redistribution_conserves_mass(spark):
    edges = spark.createDataFrame(
        [("a", "d"), ("b", "d"), ("c", "a"), ("a", "b")],
        "src_host string, dst_host string")
    n = 4
    out = {r["host"]: r["rank_scaled"] for r in
           G.pagerank(edges, n_iters=4, redistribute_dangling=True).collect()}
    total = sum(out.values())
    # mass conserved up to <= a few units of floor rounding per node/iter
    assert G.PR_SCALE - 4 * (n + 2) <= total <= G.PR_SCALE
    # python reference with the same integer formula
    SCALE = G.PR_SCALE
    deg = {"a": 2, "b": 1, "c": 1}
    ine = {"d": ["a", "b"], "a": ["c"], "b": ["a"], "c": []}
    tel = (SCALE * 15) // 100 // n
    r = dict.fromkeys("abcd", SCALE // n)
    for _ in range(4):
        dang = sum(v for h, v in r.items() if h not in deg)
        r = {h: tel + (85 * sum(r[s] // deg[s] for s in ine[h])) // 100
                + (85 * dang) // 100 // n
             for h in r}
    assert out == r
    # without redistribution the sink leaks mass
    leak = {x["host"]: x["rank_scaled"] for x in
            G.pagerank(edges, n_iters=4).collect()}
    assert sum(leak.values()) < total


def test_extract_outlinks_unquoted_and_tag_boundaries(spark):
    # unquoted href values (old hand-written HTML) extract to the first
    # whitespace/'>'; <abbr href> / <basefont href> must NOT match the
    # <a> pattern (tag-name boundary); quoted values keep inner quotes
    html = ('<a href=/bare/1>u</a><a href=rel.html >s</a>'
            '<a href=#frag>skip</a>'
            '<abbr href="no">z</abbr><basefont href="/bf/">'
            '<area shape="rect" coords="0,0,1,1" href="/map/x">'
            '<AREA HREF=/map/y>'
            '<a data-href="decoy" href="/real">r</a>'
            "<a href=\"it's fine\">q</a>")
    df = spark.createDataFrame([("u1", html)], "url string, html string")
    got = sorted(r["href"] for r in G.extract_outlinks(df).collect())
    assert got == ["/bare/1", "/map/x", "/map/y", "/real",
                   "it's fine", "rel.html"]


def test_basefont_is_not_a_base_tag(spark):
    # <basefont href> (deprecated-but-real HTML) must not hijack the
    # effective base: relative links resolve against the page URL (or a
    # REAL <base> when present, regardless of tag order)
    df = spark.createDataFrame(
        [("https://h.com/dir/page.html",
          '<basefont href="/evil/"><a href="x.html">1</a>'),
         ("https://h.com/dir/page2.html",
          '<basefont href="/evil/"><base href="/b/"><a href="y.html">2</a>')],
        "url string, html string")
    got = {r["href"]: r["resolved"]
           for r in G.extract_outlinks(df, resolve=True).collect()}
    assert got == {"x.html": "https://h.com/dir/x.html",
                   "y.html": "https://h.com/b/y.html"}


class TestAnchorText:
    def test_pairs_and_negatives(self, spark):
        from wine_label_ocr_spark.operators.graph import anchor_pairs
        html = ('<a href="https://x.com/a">First Link</a>'
                "<A HREF='https://x.com/b'>second</A>"
                '<a href=https://x.com/c>un quoted</a>'
                '<a href="https://x.com/d"><b>nested</b></a>'
                '<a href="#frag">skip</a>'
                '<a href="https://x.com/e">  spaced \n out  </a>')
        df = spark.createDataFrame([("u1", html)], "url string, html string")
        rows = {r["href"]: r["anchor"] for r in anchor_pairs(df).collect()}
        assert rows == {
            "https://x.com/a": "First Link",
            "https://x.com/b": "second",
            "https://x.com/c": "un quoted",
            "https://x.com/e": "spaced out",
        }

    def test_index_topk_and_ties(self, spark):
        from wine_label_ocr_spark.operators.graph import anchor_text_index
        mk = lambda n, a: f'<a href="https://t.com/p">{a}</a>' * n
        pages = spark.createDataFrame(
            [("https://s1.com/", mk(3, "big") + mk(2, "mid")
              + mk(1, "zz") + mk(1, "aa")
              + '<a href="/local">rel</a>'
              + '<a href="https://t.com/p">   </a>')],
            "url string, html string")
        out = anchor_text_index(pages, k=3).collect()
        by_dst = {}
        for r in out:
            by_dst.setdefault(r["dst"], []).append(
                (r["rank"], r["anchor"], r["n_refs"]))
        # top-3 with count-desc then anchor-asc tie-break; empty dropped
        assert sorted(by_dst["https://t.com/p"]) == [
            (1, "big", 3), (2, "mid", 2), (3, "aa", 1)]
        # relative href resolved against the page url
        assert by_dst["https://s1.com/local"] == [(1, "rel", 1)]

    def test_crawl_cycle_anchor_index(self, spark):
        # anchor_index_k: schedule identical to the plain cycle, index
        # over the same pages (base-aware, nofollow-consistent);
        # BENCH.md r8 records why this is a second anchor_pairs pass
        # (1.11x the cycle alone vs 1.60x for a one-scan shared lexer)
        from wine_label_ocr_spark.plans.crawl import crawl_cycle
        pages = spark.createDataFrame(
            [("https://a.com/1", '<a href="https://a.com/n1">go n1</a>'
              '<a href="/n2">go n2</a>')],
            "url string, html string")
        robots = spark.createDataFrame(
            [("a.com", "User-agent: *\nAllow: /")],
            "host string, robots_txt string")
        plain = crawl_cycle(pages, robots).collect()
        sched, idx = crawl_cycle(pages, robots, anchor_index_k=2)
        assert sorted(map(tuple, sched.collect())) == sorted(map(tuple, plain))
        got = {(r["dst"], r["anchor"]) for r in idx.collect()}
        assert got == {("https://a.com/n1", "go n1"),
                       ("https://a.com/n2", "go n2")}

    def test_crawl_cycle_anchor_index_base_and_nofollow(self, spark):
        # the index reads the frontier's pages: a nofollow page adds no
        # anchors under respect_meta_robots, and relative targets
        # resolve against <base href> as outlinks do
        from wine_label_ocr_spark.plans.crawl import crawl_cycle
        pages = spark.createDataFrame(
            [("https://a.com/1", '<base href="https://b.com/d/">'
              '<a href="x">based</a>'),
             ("https://a.com/2", '<meta name="robots" content="nofollow">'
              '<a href="https://a.com/n">skipped</a>')],
            "url string, html string")
        robots = spark.createDataFrame(
            [("a.com", "User-agent: *\nAllow: /")],
            "host string, robots_txt string")
        _, idx = crawl_cycle(pages, robots, anchor_index_k=1,
                             respect_meta_robots=True)
        assert {(r["dst"], r["anchor"]) for r in idx.collect()} == {
            ("https://b.com/d/x", "based")}

    def test_index_uppercase_scheme_kept(self, spark):
        # resolve_href passes uppercase-scheme absolute hrefs through
        # unchanged; the index's scheme filter must be case-insensitive
        # (as resolve_href and surt_key are) or those anchors vanish
        from wine_label_ocr_spark.operators.graph import anchor_text_index
        pages = spark.createDataFrame(
            [("https://s.com/", '<a href="HTTPS://T.com/x">shout</a>'
              '<a href="https://t.com/y">quiet</a>')],
            "url string, html string")
        out = {r["dst"]: r["anchor"] for r in
               anchor_text_index(pages, k=1).collect()}
        assert out == {"HTTPS://T.com/x": "shout",
                       "https://t.com/y": "quiet"}

    def test_index_unresolved_raw_hrefs(self, spark):
        from wine_label_ocr_spark.operators.graph import anchor_text_index
        pages = spark.createDataFrame(
            [("https://s.com/", '<a href="https://t.com/x">a</a>'
              '<a href="/rel">b</a>')], "url string, html string")
        out = anchor_text_index(pages, k=2, resolve=False).collect()
        # without resolution, relative hrefs fail the http(s) filter
        assert {r["dst"] for r in out} == {"https://t.com/x"}
