"""Gopher rules, C4 cleaning, SURT keys, CDX index, WET export.

The published web-corpus curation operators added in round 7 — each
matrix pins one rule/behavior boundary so the gate queries' closed
forms stay honest.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def _one(spark, text: str):
    from wine_label_ocr_spark.operators.textops import gopher_rules
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    return gopher_rules(df).head().asDict()


GOOD = ("the data be good and that have with of to " * 10).strip()  # 100 words


class TestGopherRules:
    def test_passing_doc(self, spark):
        r = _one(spark, GOOD)
        assert r["n_words"] == 100
        assert r["gopher_ok"] is True
        assert r["n_stop_hits"] == 8  # all required stopwords present

    def test_word_count_bounds(self, spark):
        assert _one(spark, "the be to of and that have with")["gopher_ok"] \
            is False  # 8 words < 50

    def test_mean_word_len(self, spark):
        # 50 1-char words -> mean 1.0 < 3 fails even with stopword pad
        r = _one(spark, ("a " * 48) + "the be")
        assert r["mean_word_len"] < 3
        assert r["gopher_ok"] is False

    def test_symbol_ratio(self, spark):
        base = GOOD + " " + "#" * 15
        r = _one(spark, base)
        assert r["symbol_ratio"] > 0.1
        assert r["gopher_ok"] is False
        # ellipsis forms count too: … and disjoint ... runs
        # 12 "…" + one 12-dot token (4 disjoint "..." runs) over 113
        # words -> 16/113 > 0.1
        r2 = _one(spark, GOOD + " " + "… " * 12 + "..." * 4)
        assert r2["symbol_ratio"] > 0.1

    def test_bullet_and_ellipsis_lines(self, spark):
        bullets = "\n".join("- item the be to of and that" for _ in range(10))
        r = _one(spark, GOOD + "\n" + bullets)
        assert r["bullet_line_frac"] == round(10 / 11, 6)
        assert r["gopher_ok"] is False
        ell = "\n".join("to be continued..." for _ in range(5))
        r2 = _one(spark, GOOD + "\n" + ell)
        assert r2["ellipsis_line_frac"] == round(5 / 6, 6)
        assert r2["gopher_ok"] is False

    def test_alpha_word_frac(self, spark):
        r = _one(spark, GOOD + " " + "123 456 789 " * 10)
        assert r["alpha_word_frac"] < 0.8
        assert r["gopher_ok"] is False

    def test_stopword_floor(self, spark):
        text = "wine bottle label vintage maker region grape " * 8
        r = _one(spark, text)
        assert r["n_stop_hits"] == 0
        assert r["gopher_ok"] is False

    def test_empty_text(self, spark):
        r = _one(spark, "")
        assert r["n_words"] == 0 and r["gopher_ok"] is False


class TestC4Clean:
    def _clean(self, spark, text: str):
        from wine_label_ocr_spark.operators.textops import c4_clean
        df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
        return c4_clean(df).head().asDict()

    def test_line_predicate_matrix(self, spark):
        text = "\n".join([
            "This is a proper sentence here.",     # kept
            "No terminal punctuation for this one", # dropped: no terminal
            "Too short.",                           # dropped: < 5 words
            "Enable javascript to view this page.", # dropped: javascript
            "  Another good sentence sits here!  ", # kept (trimmed)
            'He said "quote ends the line here."',  # kept
        ])
        r = self._clean(spark, text)
        assert r["n_kept_lines"] == 3
        assert r["n_lines"] == 6
        assert r["clean_text"].splitlines() == [
            "This is a proper sentence here.",
            "Another good sentence sits here!",
            'He said "quote ends the line here."']
        assert r["c4_ok"] is True

    def test_page_rules(self, spark):
        good = "\n".join("This is a proper sentence number %d." % i
                         for i in range(4))
        assert self._clean(spark, good)["c4_ok"] is True
        assert self._clean(spark, good + "\nvar x = {1};")["c4_ok"] is False
        assert self._clean(
            spark, good + "\nLorem Ipsum dolor sit amet.")["c4_ok"] is False
        two = "\n".join("This is a proper sentence number %d." % i
                        for i in range(2))
        assert self._clean(spark, two)["c4_ok"] is False  # < 3 kept lines

    def test_all_dropped_is_tolerant(self, spark):
        r = self._clean(spark, "no punct\nshort.")
        assert r["n_kept_lines"] == 0 and r["clean_text"] == ""
        assert r["c4_ok"] is False


SURT_CASES = [
    ("http://www.Example.COM:80/A/B/", "com,example)/a/b"),
    ("https://sub.host.org:443/p?b=2&a=1#frag", "org,host,sub)/p?a=1&b=2"),
    ("http://h8.net:8080/x", "net,h8:8080)/x"),  # non-default port kept
    ("ftp://files.example.com/y", None),
    ("http://User:pw@WWW.a.b/", "b,a)/"),
    ("http://q.com?z=1&a=2", "com,q)/?a=2&z=1"),
    ("HTTPS://T.io/P/", "io,t)/p"),
    ("https://e.co/a/b?x=1", "co,e)/a/b?x=1"),
    ("https://e.co", "co,e)/"),  # no path at all
    ("not a url", None),
]


class TestSurt:
    def test_matrix(self, spark):
        from wine_label_ocr_spark.operators.textops import surt_key
        df = spark.createDataFrame(
            [(i, u) for i, (u, _) in enumerate(SURT_CASES)],
            "i int, url string")
        got = {r["i"]: r["s"] for r in
               df.select("i", surt_key(F.col("url")).alias("s")).collect()}
        for i, (u, want) in enumerate(SURT_CASES):
            assert got[i] == want, f"{u!r}: {got[i]!r} != {want!r}"

    def test_prefix_contiguity(self, spark):
        # the point of SURT: one host's URLs share a key prefix
        from wine_label_ocr_spark.operators.textops import surt_key
        urls = ["https://a.example.com/x", "http://www.example.com/",
                "https://example.com/y?q=1", "https://example.org/x"]
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        keys = [r[0] for r in
                df.select(surt_key(F.col("url"))).collect()]
        assert sum(k.startswith("com,example") for k in keys) == 3
        assert sum(k.startswith("org,example") for k in keys) == 1


class TestCdxIndex:
    def _pages(self, spark, n=64):
        return spark.range(n).select(
            F.concat(F.lit("https://h"), (F.col("id") % 8).cast("string"),
                     F.lit(".com/p/"), F.col("id").cast("string"))
             .alias("url"),
            F.expr("timestamp'2025-01-01' + make_interval(0,0,0,0,0,0,id)")
             .alias("warc_ts"),
            F.encode(F.concat(F.lit("body"), F.col("id").cast("string")),
                     "utf-8").alias("html"))

    def test_records_drop_non_http(self, spark):
        from wine_label_ocr_spark.operators.cdx import cdx_records
        df = spark.createDataFrame(
            [("https://a.com/x", "2025-01-01 00:00:00", b"b"),
             ("mailto:x@a.com", "2025-01-01 00:00:00", b"b")],
            "url string, warc_ts string, html binary") \
            .withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
        out = cdx_records(df).collect()
        assert len(out) == 1 and out[0]["surt"] == "com,a)/x"
        assert out[0]["digest"] is not None and out[0]["length"] == 1

    def test_commit_lookup_and_prune(self, spark, tmp_path):
        from wine_label_ocr_spark.operators.cdx import cdx_commit, cdx_lookup
        from wine_label_ocr_spark.sources.table import ManifestTable
        root = str(tmp_path)
        cdx_commit(self._pages(spark), root, n_files=8)
        # point lookup: every capture of ONE url
        got = cdx_lookup(spark, root, url="https://h3.com/p/3").collect()
        assert [r["url"] for r in got] == ["https://h3.com/p/3"]
        # prefix lookup: all captures under one host
        pre = cdx_lookup(spark, root, surt_prefix="com,h3)").collect()
        assert sorted(r["url"] for r in pre) == \
            sorted(f"https://h{3}.com/p/{i}" for i in range(3, 64, 8))
        # file-level pruning: the manifest stats must exclude most files
        # for a narrow key range (range-partitioned commit -> disjoint)
        t = ManifestTable(root)
        snap = t._current_snapshot()
        stats = snap["stats"]
        assert snap["stats_col"] == "surt" and len(stats) >= 4
        key = "com,h3)/p/3"
        kept = [f for f in t.current_files()
                if f not in stats
                or (stats[f][0] <= key and stats[f][1] >= key)]
        assert len(kept) < len(t.current_files())

    def test_digest_is_cdx_base32_sha1(self, spark):
        # CDX(J) convention: digest = Base32(SHA-1(payload)), 32 chars,
        # no padding — must interop with Wayback/pywb digests
        import base64
        import hashlib

        from wine_label_ocr_spark.operators.cdx import cdx_records
        payloads = [b"b", b"hello world", bytes(range(256))]
        df = spark.createDataFrame(
            [(f"https://a.com/{i}", "2025-01-01 00:00:00", p)
             for i, p in enumerate(payloads)],
            "url string, warc_ts string, html binary") \
            .withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
        got = {r["url"]: r["digest"] for r in cdx_records(df).collect()}
        for i, p in enumerate(payloads):
            want = base64.b32encode(hashlib.sha1(p).digest()).decode()
            assert got[f"https://a.com/{i}"] == want
            assert len(want) == 32 and "=" not in want

    def test_prefix_successor_astral_safe(self, spark, tmp_path):
        from wine_label_ocr_spark.operators.cdx import (
            _prefix_successor, cdx_commit, cdx_lookup)
        # unit: successor covers astral continuations U+FFFF misses
        assert _prefix_successor("com,a)/") == "com,a)0"
        assert _prefix_successor("x" + chr(0x10FFFF)) == "y"
        assert _prefix_successor(chr(0x10FFFF)) is None
        emoji = "\U0001F600"  # U+1F600 > U+FFFF: sorts ABOVE prefix+U+FFFF
        assert "com,a)/" + emoji > "com,a)/" + "￿"
        assert "com,a)/" + emoji < _prefix_successor("com,a)/")
        # end-to-end: a file holding ONLY astral-path keys must not be
        # pruned away by the prefix lookup's manifest range
        root = str(tmp_path)
        df = spark.createDataFrame(
            [(f"https://a.com/{emoji}", "2025-01-01 00:00:00", b"x")],
            "url string, warc_ts string, html binary") \
            .withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
        cdx_commit(df, root, n_files=1)
        pre = cdx_lookup(spark, root, surt_prefix="com,a)/").collect()
        assert len(pre) == 1 and emoji in pre[0]["url"]

    def test_revisit_records(self, spark):
        """WARC 1.1 identical-payload-digest profile: first capture per
        (surt, digest) is the response; later identical captures become
        revisits pointing at it; changed content starts a NEW response
        (different digest, same surt)."""
        from wine_label_ocr_spark.operators.cdx import revisit_records
        rows = [
            ("https://a.com/x", "2025-01-01 00:00:00", b"v1"),
            ("https://a.com/x", "2025-01-02 00:00:00", b"v1"),  # revisit
            ("https://a.com/x", "2025-01-03 00:00:00", b"v2"),  # changed
            ("https://a.com/x", "2025-01-04 00:00:00", b"v2"),  # revisit
            ("https://b.com/y", "2025-01-01 00:00:00", b"v1"),  # other surt
        ]
        df = spark.createDataFrame(
            rows, "url string, warc_ts string, html binary") \
            .withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
        out = sorted(revisit_records(df).collect(),
                     key=lambda r: (r["url"], r["ts"]))
        types = [r["record_type"] for r in out]
        assert types == ["response", "revisit", "response", "revisit",
                         "response"]
        assert out[1]["refers_to_url"] == "https://a.com/x"
        assert out[1]["refers_to_ts"] == out[0]["ts"]
        assert out[3]["refers_to_ts"] == out[2]["ts"]
        assert out[0]["refers_to_url"] is None
        # same-payload different-surt rows never cross-link
        assert out[4]["record_type"] == "response"
        # one window, no self-join: plan has no Join node
        plan = revisit_records(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Join" not in plan

    def test_revisit_null_digest_always_response(self, spark):
        """NULL payload → NULL digest = UNKNOWN content: the
        identical-payload-digest relation is unverifiable, so every
        NULL-digest capture stays a full response — never a revisit of
        another unknown (ADVICE r8: the window groups NULLs together,
        which would otherwise collapse all fetch-failure captures of a
        surt onto the first one)."""
        from wine_label_ocr_spark.operators.cdx import revisit_records
        rows = [
            ("https://a.com/x", "2025-01-01 00:00:00", None),
            ("https://a.com/x", "2025-01-02 00:00:00", None),
            ("https://a.com/x", "2025-01-03 00:00:00", b"v1"),
            ("https://a.com/x", "2025-01-04 00:00:00", b"v1"),
        ]
        df = spark.createDataFrame(
            rows, "url string, warc_ts string, html binary") \
            .withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
        out = sorted(revisit_records(df, keep_payload=True).collect(),
                     key=lambda r: r["ts"])
        assert [r["record_type"] for r in out] == [
            "response", "response", "response", "revisit"]
        assert all(r["refers_to_url"] is None for r in out[:3])
        # NULL-digest responses keep their (absent) payload slot; the
        # real revisit still points at the first REAL capture
        assert out[3]["refers_to_ts"] == out[2]["ts"]
        assert out[3]["html"] is None and out[2]["html"] == b"v1"

    def test_export_deduped_warc_roundtrip(self, spark, tmp_path):
        """Deduped WARC export: one full response per distinct payload,
        WARC 1.1 revisit pointers for repeats (profile + refers-to +
        sha1:base32 payload digest headers, empty body), responses
        readable back via read_warc, and the export measurably smaller
        than the full one."""
        import base64
        import hashlib

        from wine_label_ocr_spark.sources.warc import (
            export_deduped_warc, read_warc, write_warc_shards)
        big = b"<html>" + b"x" * 5000 + b"</html>"
        rows = [("https://a.com/x", "2025-01-01 00:00:00", big),
                ("https://a.com/x", "2025-01-02 00:00:00", big),
                ("https://a.com/x", "2025-01-03 00:00:00", big),
                ("https://b.com/y", "2025-01-01 00:00:00", b"tiny")]
        df = spark.createDataFrame(
            rows, "url string, warc_ts string, html binary") \
            .withColumn("warc_ts", F.col("warc_ts").cast("timestamp")) \
            .coalesce(1)
        full_dir, dd_dir = str(tmp_path / "full"), str(tmp_path / "dd")
        full = write_warc_shards(df, full_dir).collect()
        dd = export_deduped_warc(df, dd_dir).collect()
        assert sum(r["n_records"] for r in dd) == 4
        # two 5KB duplicate payloads became pointers
        assert (sum(r["n_bytes"] for r in dd)
                < sum(r["n_bytes"] for r in full) - 8000)
        # responses read back: exactly the two distinct payloads
        got = {(r["url"], bytes(r["html"])) for r in
               read_warc(spark, dd_dir + "/*.warc").collect()}
        assert got == {("https://a.com/x", big), ("https://b.com/y", b"tiny")}
        # raw revisit records carry the 1.1 profile + pointer headers
        raw = b"".join(open(r["path"], "rb").read() for r in dd)
        digest = base64.b32encode(hashlib.sha1(big).digest()).decode()
        assert raw.count(b"WARC-Type: revisit") == 2
        assert raw.count(
            b"WARC-Profile: http://netpreserve.org/warc/1.1/revisit/"
            b"identical-payload-digest") == 2
        assert raw.count(b"WARC-Refers-To-Target-URI: https://a.com/x") == 2
        assert raw.count(f"WARC-Payload-Digest: sha1:{digest}".encode()) == 2
        assert b"WARC-Refers-To-Date: 2025-01-01" in raw

    def test_lookup_arg_validation(self, spark, tmp_path):
        from wine_label_ocr_spark.operators.cdx import cdx_lookup
        root = str(tmp_path)
        try:
            cdx_lookup(spark, root)
        except ValueError:
            pass
        else:
            raise AssertionError("expected ValueError")


class TestWet:
    def test_html_to_text_matrix(self, spark):
        from wine_label_ocr_spark.sources.warc import html_to_text
        cases = [
            ("<p>Hello   <b>world</b></p>", "Hello world"),
            ("<script>var x='<p>';</script>ok", "ok"),
            ("<style>p{color:red}</style>text", "text"),
            ("<!-- secret -->shown", "shown"),
            ("A&lt;B &amp; C &quot;q&quot; &#39;s&#39;", 'A<B & C "q" \'s\''),
            ("&amp;lt; stays escaped", "&lt; stays escaped"),
            ("no tags at all", "no tags at all"),
            ("", ""),
        ]
        df = spark.createDataFrame(
            [(i, h) for i, (h, _) in enumerate(cases)], "i int, h string")
        got = {r["i"]: r["t"] for r in
               df.select("i", html_to_text(F.col("h")).alias("t")).collect()}
        for i, (h, want) in enumerate(cases):
            assert got[i] == want, f"{h!r}: {got[i]!r} != {want!r}"

    def test_wet_shard_roundtrip(self, spark, tmp_path):
        from wine_label_ocr_spark.sources.warc import (
            read_warc, write_wet_shards)
        pages = spark.range(20).select(
            F.concat(F.lit("https://s.com/"), F.col("id").cast("string"))
             .alias("url"),
            F.expr("timestamp'2025-01-01'").alias("warc_ts"),
            F.encode(F.concat(F.lit("<p>Doc "), F.col("id").cast("string"),
                              F.lit(" body.</p>")), "utf-8").alias("html"))
        out = str(tmp_path)
        manifest = write_wet_shards(pages.repartition(3), out,
                                    compress=True).collect()
        assert sum(m["n_records"] for m in manifest) == 20
        back = read_warc(spark, os.path.join(out, "*.warc.gz"),
                         record_types=("conversion",))
        rows = {r["url"]: r["html"].decode() for r in back.collect()}
        assert len(rows) == 20
        assert rows["https://s.com/7"] == "Doc 7 body."
        # response-typed readers must NOT see conversion records
        assert read_warc(spark, os.path.join(out, "*.warc.gz")).count() == 0


class TestGopherRepetition:
    """Full A1.1 repetition-signal set — every value below is
    hand-computed from the definitions (see gopher_repetition's
    docstring), so the column algebra can't drift silently."""

    def _run(self, spark, text):
        df = spark.createDataFrame([(1, text)], "doc_id int, text string")
        from wine_label_ocr_spark.operators.textops import gopher_repetition
        return gopher_repetition(df).head().asDict()

    def test_dup_lines_and_top_ngrams(self, spark):
        # "aa bb cc\naa bb cc\ndd ee": 23 chars, 8 tokens
        r = self._run(spark, "aa bb cc\naa bb cc\ndd ee")
        assert r["dup_line_frac"] == 0.333333          # 1 repeat of 3 lines
        assert r["dup_line_char_frac"] == 0.380952     # 8 / 21
        assert r["dup_para_frac"] == 0.0               # single paragraph
        assert r["dup_para_char_frac"] == 0.0
        # top bigram: tie at c=2 ("aa bb" vs "bb cc") breaks gram-desc
        assert r["top_2gram_char_frac"] == round(2 * 5 / 23, 6)   # "bb cc"
        assert r["top_3gram_char_frac"] == round(2 * 8 / 23, 6)   # "aa bb cc"
        # all 4-grams unique -> c=1, lexicographically largest wins
        assert r["top_4gram_char_frac"] == round(1 * 11 / 23, 6)  # "cc aa bb cc"
        for n in (5, 6, 7, 8, 9, 10):
            assert r[f"dup_{n}gram_char_frac"] == 0.0

    def test_dup_ngram_masking(self, spark):
        # 6-token phrase repeated: every token is covered ONCE by the
        # dup mask even though overlapping dup 5-grams cover some twice
        r = self._run(spark, "p q r s t u p q r s t u")
        assert r["dup_5gram_char_frac"] == round(12 / 23, 6)
        assert r["dup_6gram_char_frac"] == round(12 / 23, 6)
        assert r["dup_7gram_char_frac"] == 0.0
        assert r["top_2gram_char_frac"] == round(2 * 3 / 23, 6)   # "t u"
        assert r["dup_line_frac"] == 0.0

    def test_dup_paragraphs(self, spark):
        r = self._run(spark, "one two three\n\none two three\n\nfour five")
        assert r["dup_para_frac"] == 0.333333
        assert r["dup_para_char_frac"] == round(13 / 35, 6)
        assert r["dup_line_frac"] == 0.333333  # paras are single lines too

    def test_empty_and_short(self, spark):
        r = self._run(spark, "")
        assert all(r[c] == 0.0 for c in r if c != "doc_id")
        r2 = self._run(spark, "lone")  # 1 token: no grams at any n
        assert all(r2[c] == 0.0 for c in r2 if c != "doc_id")


class TestCorpusDatacard:
    def test_groups_and_masses(self, spark):
        from wine_label_ocr_spark.operators.textops import corpus_datacard
        rows = spark.createDataFrame(
            [(1, "the cat and the dog have that been with them"),
             (2, "the quick brown fox is that and of have with"),
             (3, "zzz qqq xxx")],
            "doc_id int, text string")
        out = {r["lang"]: r for r in corpus_datacard(rows).collect()}
        assert set(out) == {"en", "und"}
        assert out["en"]["n_docs"] == 2
        assert out["en"]["total_tokens"] == 20
        assert out["und"]["n_docs"] == 1
        assert out["und"]["total_tokens"] == 3
        for r in out.values():
            assert 0.0 <= r["mean_quality"] <= 1.0
            assert r["gopher_pass_rate"] in (0.0, 0.5, 1.0)
            assert 0.0 <= r["c4_pass_rate"] <= 1.0


class TestHeadMeta:
    def _run(self, spark, html):
        from wine_label_ocr_spark.operators.html_meta import head_meta
        df = spark.createDataFrame([("u", html)], "url string, html string")
        return head_meta(df).head().asDict()

    def test_full_head(self, spark):
        r = self._run(spark, '<title>T</title>'
                      '<meta name="description" content="D">'
                      '<meta property="og:title" content="O">'
                      '<link rel="canonical" href="https://c.io/x">'
                      '<meta charset="UTF-8">')
        assert (r["title"], r["description"], r["og_title"],
                r["canonical"], r["charset"]) == \
            ("T", "D", "O", "https://c.io/x", "utf-8")
        assert not r["robots_noindex"] and not r["robots_nofollow"]

    def test_attr_order_quotes_first_wins(self, spark):
        r = self._run(spark, "<meta content='A B' name='description'>"
                      '<meta name="description" content="second">')
        assert r["description"] == "A B"

    def test_robots_tokens(self, spark):
        r = self._run(spark, '<meta name=ROBOTS content="NOINDEX, nofollow">')
        assert r["robots_noindex"] and r["robots_nofollow"]
        # token boundary: substrings must not fire
        r2 = self._run(spark, '<meta name="robots" content="nofollowme">')
        assert not r2["robots_nofollow"]

    def test_robots_combined_across_tags(self, spark):
        # the Google/Bing rule: directives from ALL robots meta tags
        # merge (most restrictive wins) — separate noindex and nofollow
        # tags must BOTH apply, not just the first tag in document order
        r = self._run(spark, '<meta name="robots" content="noindex">'
                      '<meta name="robots" content="nofollow">')
        assert r["robots_noindex"] and r["robots_nofollow"]
        r2 = self._run(spark, '<meta name="robots" content="all">'
                       '<meta name="robots" content="noindex">')
        assert r2["robots_noindex"] and not r2["robots_nofollow"]

    def test_robots_flags_null_html_false(self, spark):
        """Fetch-failure rows (NULL html) keep the boolean contract:
        flags are False, never NULL (ADVICE r8 — F.exists over a NULL
        array is NULL without the coalesce)."""
        from wine_label_ocr_spark.operators.html_meta import \
            robots_meta_flags
        df = spark.createDataFrame(
            [("https://a.io/", None)], "url string, html string")
        noindex, nofollow = robots_meta_flags(F.col("html"))
        r = df.select(noindex.alias("ni"), nofollow.alias("nf")) \
              .collect()[0]
        assert r["ni"] is False and r["nf"] is False

    def test_http_equiv_charset_and_empty(self, spark):
        r = self._run(spark, '<meta http-equiv="Content-Type"'
                      ' content="text/html; charset=ISO-8859-1">')
        assert r["charset"] == "iso-8859-1"
        r2 = self._run(spark, "<p>plain</p>")
        assert all(r2[k] is None for k in
                   ("title", "description", "og_title", "canonical",
                    "charset"))


def test_crawl_cycle_respects_meta_nofollow(spark):
    from pyspark.sql import functions as F

    from wine_label_ocr_spark.plans.crawl import crawl_cycle
    pages = spark.createDataFrame(
        [("https://a.com/1",
          '<a href="https://a.com/f1">x</a>'),
         ("https://a.com/2",
          '<meta name="robots" content="nofollow">'
          '<a href="https://a.com/f2">y</a>')],
        "url string, html string")
    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nAllow: /")], "host string, robots_txt string")
    on = {r["url"] for r in crawl_cycle(
        pages, robots, respect_meta_robots=True).collect()}
    off = {r["url"] for r in crawl_cycle(pages, robots).collect()}
    assert "https://a.com/f1" in on and "https://a.com/f2" not in on
    assert "https://a.com/f2" in off
