"""HTML <head> metadata extraction — the WAT-adjacent page signals a
crawl/curation pipeline routes on: title, meta description, canonical
link, declared charset, open-graph title, and the robots meta verdict
(noindex/nofollow) that a polite crawler must honor alongside
robots.txt. Reference analog: the per-region field dispatch of the
reference extractor (hybrid.py's field table) re-targeted at the
document head.

All pure JVM column algebra (shared Java∩RE2 regex dialect — no
lookarounds, single-group captures): one ``regexp_extract_all`` pass
explodes the <meta> tags in-row, per-tag name/content pulls are array
transforms, everything else is a single anchored extract. Zero
Exchange at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.column import Column

from .graph import _unquote

# every <meta ...> tag (self-closing or not); attribute pulls happen
# per-tag so attribute ORDER never matters
_META_TAG = r"<(?i:meta)\s[^>]*>"
# name= or property= (og: tags use property), quoted or unquoted
_META_KEY = r"(?i:name|property)\s*=\s*[\"']?([^\s\"'>]+)"
_META_CONTENT = r"(?i:content)\s*=\s*(\"[^\"]*\"|'[^']*'|[^\s>]+)"
# <link ... rel=canonical ... href=...>: rel and href pulled per-tag
_LINK_TAG = r"<(?i:link)\s[^>]*>"
_LINK_REL = r"(?i:rel)\s*=\s*[\"']?([^\s\"'>]+)"
_LINK_HREF = r"(?i:href)\s*=\s*(\"[^\"]*\"|'[^']*'|[^\s>]+)"
# charset: <meta charset=utf-8> or http-equiv content 'charset=utf-8'
_CHARSET = r"(?i:charset)\s*=\s*[\"']?([A-Za-z0-9_\-]+)"
_TITLE = r"(?i:<title[^>]*>)([^<]*)"


def _meta_entries(html: Column) -> Column:
    """array<struct<k,v>> of (lowercased name|property, content) for
    every <meta> tag that carries both."""
    return F.filter(
        F.transform(
            F.regexp_extract_all(html, F.lit(_META_TAG), 0),
            lambda tag: F.struct(
                F.lower(F.regexp_extract(tag, _META_KEY, 1)).alias("k"),
                _unquote(F.regexp_extract(tag, _META_CONTENT, 1))
                .alias("v"))),
        lambda e: (e["k"] != "") & (e["v"] != ""))


def _meta_value(entries: Column, key: str) -> Column:
    """FIRST matching meta's content (document order — the browser
    rule), NULL when absent."""
    hit = F.get(F.filter(entries, lambda e: e["k"] == key), 0)
    return hit["v"]


def robots_meta_flags(html: Column) -> tuple[Column, Column]:
    """(noindex, nofollow) boolean columns combined across ALL
    <meta name=robots> tags — token-matched inside each comma/space
    separated content, most-restrictive-wins (the Google/Bing rule:
    directives from every robots meta tag are merged, so separate
    <meta robots=noindex> and <meta robots=nofollow> tags both apply).
    Reusable as a bare expression so the crawl cycle can gate outlink
    extraction with a pure map (no join, no second pass over the page
    bytes)."""
    robots = F.filter(_meta_entries(html), lambda e: e["k"] == "robots")

    def any_token(pat: str) -> Column:
        # F.exists over a NULL array (NULL html) is NULL — coalesce to
        # False so the flags keep their boolean contract on
        # fetch-failure rows (ADVICE r8).
        return F.coalesce(
            F.exists(robots, lambda e: F.lower(e["v"]).rlike(pat)),
            F.lit(False))

    return (any_token(r"(^|[,\s])noindex($|[,\s])"),
            any_token(r"(^|[,\s])nofollow($|[,\s])"))


def head_meta(df: DataFrame, id_col: str = "url",
              html_col: str = "html") -> DataFrame:
    """One row per page: ``(url, title, description, og_title,
    canonical, charset, robots_noindex, robots_nofollow)``.

    * title: first <title> text (no nested markup — WAT's rule);
    * description / og_title: first matching <meta name=|property=>;
    * canonical: first <link rel=canonical> href;
    * charset: first ``charset=`` declaration anywhere in the document
      (covers both <meta charset> and http-equiv content-type; a
      body-text mention would also match — acceptable for the routing
      use, where a wrong-but-declared charset already routes to the
      detection fallback);
    * robots_noindex / robots_nofollow: token match combined across
      ALL <meta name=robots> contents (comma/space separated,
      most-restrictive-wins — the Google/Bing rule) — ``noindex``
      gates indexing, ``nofollow`` tells the crawler to drop this
      page's outlinks.
    """
    html = F.col(html_col).cast("string")
    metas = _meta_entries(html)
    noindex, nofollow = robots_meta_flags(html)
    links = F.transform(
        F.regexp_extract_all(html, F.lit(_LINK_TAG), 0),
        lambda tag: F.struct(
            F.lower(F.regexp_extract(tag, _LINK_REL, 1)).alias("rel"),
            _unquote(F.regexp_extract(tag, _LINK_HREF, 1)).alias("href")))
    canonical = F.get(
        F.filter(links, lambda e: (e["rel"] == "canonical")
                 & (e["href"] != "")), 0)["href"]
    return df.select(
        F.col(id_col).alias("url"),
        F.nullif(F.regexp_extract(html, _TITLE, 1), F.lit(""))
         .alias("title"),
        _meta_value(metas, "description").alias("description"),
        _meta_value(metas, "og:title").alias("og_title"),
        canonical.alias("canonical"),
        F.nullif(F.lower(F.regexp_extract(html, _CHARSET, 1)), F.lit(""))
         .alias("charset"),
        noindex.alias("robots_noindex"),
        nofollow.alias("robots_nofollow"),
    )

