"""Web link-graph operators: outlink extraction, host-level edges, and
an exactly-reproducible PageRank.

The crawl-side complement of the curation suite: outlinks drive frontier
expansion and host authority; PageRank-style host scores are a standard
corpus-quality prior (pages from high-authority hosts survive filtering
more often). Reference analog: the detect→associate step of the
reference's span matcher (J7) re-targeted at page→page references.

Scale shapes:

* ``extract_outlinks`` is a pure map (JVM ``regexp_extract_all``) —
  zero Exchange, no Python;
* ``host_edges`` is one distinct over (src, dst) — a narrow shuffle of
  host-pair strings;
* ``pagerank`` is the classic iterate-until-k loop expressed as k
  narrow (dst-keyed) aggregations over the edge list. All rank math is
  SCALED BIGINT with floor division — bit-identical on any engine and
  any partitioning, so the driver gate can hash-compare against a
  DuckDB recursive-CTE twin (floating-point PageRank would differ in
  the last ulp between engines). Each iteration ``localCheckpoint``s
  the rank table (same lineage-cut pattern as
  ``dedupe.connected_components``) so the plan does not grow with k.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# href extraction: RE2-compatible (no lookarounds), shared verbatim with
# the DuckDB oracle.  The tag name must be `a` or `area` (image-map
# links) followed by whitespace — the boundary keeps <abbr>/<basefont>
# out without dropping <area href> navigation — and the single capture
# group serves quoted AND unquoted values by keeping the quotes in the
# capture; `href_values` strips them.  Unquoted values (`href=/bare` —
# common in old hand-written HTML; previously a silent drop) run to the
# first whitespace or `>` per the HTML5 unquoted-attribute rule.
# Fragment-only links (`#...`) are excluded in every branch.
HREF_PATTERN = (r"<(?i:a|area)\s(?:[^>]*\s)?(?i:href)\s*=\s*"
                r"(\"[^\"#][^\"]*\"|'[^'#][^']*'|[^\s\"'>#][^\s>]*)")

# <base href="..."> pickup: the FIRST base tag governs (HTML spec);
# regexp_extract returns the first match.  `<base` must be followed by
# whitespace — without the boundary, a deprecated-but-real
# <basefont href=...> tag would hijack the base and mis-resolve every
# relative link on the page.
BASE_PATTERN = (r"<[bB][aA][sS][eE]\s(?:[^>]*\s)?(?i:href)\s*=\s*"
                r"[\"']([^\"']+)[\"']")


def _unquote(v: Column) -> Column:
    """Strip one layer of surrounding quotes off a captured attribute
    value (quoted captures keep their quotes so HREF_PATTERN needs only
    one group; ``html_meta`` unquotes its content/href captures the same
    way). Pure column algebra; mirrored in the DuckDB oracle as
    ``CASE WHEN v[1] IN ('\"', '''') THEN v[2:-2] ELSE v END``."""
    q = v.substr(F.lit(1), F.lit(1))
    return F.when((q == '"') | (q == "'"),
                  v.substr(F.lit(2), F.length(v) - 2)).otherwise(v)


def href_values(html_col) -> "F.Column":
    """All href values in a page as an array<string> (quotes stripped,
    fragment-only links excluded) — the one extraction every consumer
    (outlinks, WAT sidecar, crawl cycle) shares."""
    return F.transform(
        F.regexp_extract_all(html_col, F.lit(HREF_PATTERN), 1), _unquote)


def _effective_base(page_url: Column, basetag: Column) -> Column:
    """The URL a page's relative hrefs resolve against: its first
    ``<base href>`` value ``basetag`` (``BASE_PATTERN`` group 1), itself
    resolved against the page URL as the HTML spec requires, else the
    page URL when ``basetag`` is ""."""
    from .textops import resolve_href
    return F.when(basetag == "", page_url) \
            .otherwise(resolve_href(page_url, basetag))

PR_SCALE = 1_000_000_000_000  # 10^12: rank mass in integer micro-units


def extract_outlinks(df: DataFrame, id_col: str = "url",
                     html_col: str = "html",
                     resolve: bool = False) -> DataFrame:
    """One row per (page, outlink href).

    ``resolve=False``: raw hrefs as written — pure map, JVM regex, zero
    Exchange. ``resolve=True`` adds a ``resolved`` column: the absolute
    URL per RFC 3986 (``textops.resolve_href``) against the page's
    effective base — the first ``<base href>`` tag when present (itself
    resolved against the page URL, as the HTML spec requires), else the
    page URL. Still a pure map: the base pickup and resolution are
    column algebra over the exploded rows."""
    out = df.select(F.col(id_col).alias("src"),
                    *( [F.regexp_extract(F.col(html_col),
                                         BASE_PATTERN, 1).alias("_basetag")]
                       if resolve else [] ),
                    F.explode(href_values(F.col(html_col))).alias("href"))
    if not resolve:
        return out
    from .textops import resolve_href
    eff_base = _effective_base(F.col("src"), F.col("_basetag"))
    return (out.withColumn("resolved",
                           resolve_href(eff_base, F.col("href")))
            .drop("_basetag"))


def host_edges(links: DataFrame, src_col: str = "src",
               href_col: str = "href",
               resolve_relative: bool = False) -> DataFrame:
    """Distinct (src_host, dst_host) edges from http(s) outlinks. With
    ``resolve_relative=False`` only absolute hrefs form edges (relative
    links have no host and drop out); with ``resolve_relative=True``
    each href is first resolved against ``src_col`` (which must then be
    the page URL) via RFC 3986, so relative links contribute their
    (self-)host edges too. Hosts are normalized via
    ``registrable_host`` (lowercase, userinfo/port stripped) so
    ``a.com`` and ``a.com:8080`` are ONE PageRank node — split
    authorities would silently dilute rank mass. Self-edges are kept;
    PageRank handles them like any other edge."""
    from .textops import registrable_host, resolve_href
    dst = F.col(href_col)
    if resolve_relative:
        dst = resolve_href(F.col(src_col), dst)
    return (links.select(registrable_host(F.col(src_col)).alias("src_host"),
                         registrable_host(dst).alias("dst_host"))
            .filter(F.col("src_host").isNotNull()
                    & F.col("dst_host").isNotNull())
            .distinct())


def pagerank(edges: DataFrame, n_iters: int = 5, damping_pct: int = 85,
             src_col: str = "src_host", dst_col: str = "dst_host",
             redistribute_dangling: bool = False) -> DataFrame:
    """Exact fixed-point PageRank over a distinct edge list:
    ``(host, rank_scaled)`` with rank in integer units of ``PR_SCALE``.

    All arithmetic is TRUE bigint integer division (SQL ``div`` — never
    a double division cast back, so exactness is structural, not a
    magnitude accident) — the result is EXACTLY reproducible across
    engines, partitionings, and cluster sizes (the driver gate hashes it
    against a DuckDB recursive-CTE twin; float PageRank cannot pass such
    a gate).

    Dangling hosts (in-links only) receive the teleport term but have no
    outflow. With ``redistribute_dangling=False`` their mass simply
    leaves the system — the standard simplification when ranks are a
    relative quality prior. With ``True``, each iteration adds the
    damped dangling mass back uniformly —
    ``(damping_pct * Σ_dangling rank) div 100 div n`` per node, one
    extra scalar aggregation joined in as a 1-row broadcast — keeping
    ``Σ ranks = PR_SCALE`` up to the ≤ n floor-rounding deficit (mass
    conservation, pytest-pinned).

    Per iteration: one dst-keyed aggregation of ``share = r div deg``
    (map-side partial sums) + a left join back onto the node list; the
    rank table is ``localCheckpoint``ed so lineage stays O(1) in k.
    """
    # materialize the loop-invariant sides ONCE: without the checkpoint,
    # every iteration re-runs the edge distinct() and the degree agg
    # from source lineage (k× redundant shuffles on a big edge list)
    e = edges.select(F.col(src_col).alias("src"),
                     F.col(dst_col).alias("dst")).distinct() \
             .localCheckpoint(eager=True)
    nodes = (e.select(F.col("src").alias("host"))
             .unionByName(e.select(F.col("dst").alias("host")))
             .distinct()).localCheckpoint(eager=True)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")) \
           .localCheckpoint(eager=True)
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank_scaled", F.lit(0).cast("bigint"))
    base = int(PR_SCALE) // n
    teleport = (int(PR_SCALE) * (100 - damping_pct)) // 100 // n
    ranks = nodes.withColumn("rank_scaled", F.lit(base).cast("bigint")) \
                 .localCheckpoint(eager=True)
    for _ in range(int(n_iters)):
        shares = (e.join(ranks, e["src"] == ranks["host"])
                  .join(deg, "src")
                  .select(F.col("dst").alias("host"),
                          F.expr("rank_scaled div deg").alias("share")))
        inflow = shares.groupBy("host").agg(
            F.sum("share").cast("bigint").alias("inflow"))
        damped = F.expr(
            f"({int(damping_pct)}L * coalesce(inflow, 0L)) div 100")
        new = nodes.join(inflow, "host", "left")
        if redistribute_dangling:
            # Σ rank over hosts with no out-edges, damped, split evenly:
            # a 1-row scalar aggregation cross-joined in (broadcast).
            dangling = (ranks.join(deg, ranks["host"] == deg["src"],
                                   "left_anti")
                        .agg(F.coalesce(F.sum("rank_scaled"), F.lit(0))
                             .cast("bigint").alias("_dangling")))
            new = new.crossJoin(F.broadcast(dangling))
            damped = damped + F.expr(
                f"({int(damping_pct)}L * _dangling) div 100 div {n}L")
        ranks = (new.select("host",
                            (F.lit(teleport) + damped)
                            .cast("bigint").alias("rank_scaled"))
                 .localCheckpoint(eager=True))
    return ranks


# anchor-text pickup: same RE2-safe href machinery as HREF_PATTERN plus a
# second capture for the anchor's inner text.  [^<]* means anchors with
# nested markup (<a ...><b>x</b></a>) do NOT match — a documented
# simplification shared verbatim with the DuckDB oracle (capturing
# through nested tags needs non-greedy dotall across tags, which the
# shared dialect supports, but the *text* of nested markup would then
# include tag bytes; dropping nested anchors is the cleaner contract).
# Only <a> qualifies (an <area> has no inner text by construction).
ANCHOR_PATTERN = (r"<(?i:a)\s(?:[^>]*\s)?(?i:href)\s*=\s*"
                  r"(\"[^\"#][^\"]*\"|'[^'#][^']*'|[^\s\"'>#][^\s>]*)"
                  r"[^>]*>([^<]*)</(?i:a)\s*>")


def anchor_pairs(df: DataFrame, id_col: str = "url",
                 html_col: str = "html") -> DataFrame:
    """One row per (page, href, anchor_text) — the raw material of an
    anchor-text index. Pure map: two JVM ``regexp_extract_all`` passes
    over the same pattern (Spark extracts one group per call) zipped
    positionally, so href and text always come from the SAME match.
    Anchor text is whitespace-normalized (trim + inner collapse);
    anchors wrapping nested markup don't match (see ANCHOR_PATTERN)."""
    h = F.col(html_col)
    hrefs = F.transform(
        F.regexp_extract_all(h, F.lit(ANCHOR_PATTERN), 1), _unquote)
    texts = F.transform(
        F.regexp_extract_all(h, F.lit(ANCHOR_PATTERN), 2),
        lambda t: F.trim(F.regexp_replace(t, r"\s+", " ")))
    return (df.select(F.col(id_col).alias("src"),
                      F.explode(F.arrays_zip(
                          hrefs.alias("href"), texts.alias("anchor")))
                       .alias("z"))
            .select("src", F.col("z.href").alias("href"),
                    F.col("z.anchor").alias("anchor")))


def anchor_text_index(df: DataFrame, id_col: str = "url",
                      html_col: str = "html", k: int = 3,
                      resolve: bool = True) -> DataFrame:
    """Top-k anchor texts per link TARGET — the classic web-graph
    relevance signal (how the rest of the web describes a page), used
    for retrieval training data and page-title repair.

    Output: (dst, rank, anchor, n_refs) with rank 1..k per dst, ordered
    by (n_refs desc, anchor asc) — fully deterministic. ``resolve``
    resolves each href against ``id_col`` (RFC 3986);
    ``crawl_cycle(anchor_index_k=...)`` passes each page's effective
    ``<base href>`` as ``id_col``.

    Scale shape: the count aggregation shuffles (dst, anchor) string
    pairs only (never pages) with map-side partial combine; the top-k
    window partitions on dst — key cardinality ~unique targets, no
    single-reducer stage. Empty anchors ("" after normalization — image
    links) are dropped: they carry no signal and would otherwise
    dominate every popular target's top-k."""
    from .textops import resolve_href
    pairs = anchor_pairs(df, id_col, html_col)
    dst = (resolve_href(F.col("src"), F.col("href"))
           if resolve else F.col("href"))
    keyed = (pairs.select(dst.alias("dst"), "anchor")
             .filter(F.col("dst").rlike(r"^(?i:https?)://")
                     & F.col("anchor").isNotNull()
                     & (F.col("anchor") != "")))
    counts = keyed.groupBy("dst", "anchor").agg(
        F.count(F.lit(1)).alias("n_refs"))
    from pyspark.sql import Window
    w = Window.partitionBy("dst").orderBy(
        F.col("n_refs").desc(), F.col("anchor"))
    return (counts.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("dst", F.col("rank").cast("int").alias("rank"),
                    "anchor", F.col("n_refs").cast("bigint")
                    .alias("n_refs")))
