"""Web-graph extraction over the Common-Crawl-style pages table:
html -> visible text / title / outgoing links -> host-level link
edges -> PageRank host authority.

The glue between sources/pages.py (``html: binary`` per the BASELINE
input hint), functions/html.py (JVM regexp extraction), functions/
urls.py (host / registered-domain keys), and operators/graph.pagerank.
Everything before the PageRank iterations is pure column expressions —
one narrow projection + one explode, no Python, no shuffle until the
edge-count aggregate — so the extraction stage runs at scan width on
any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import html as H
from ..functions import urls as U
from .fixpoint import checkpoint, fixpoint
from .graph import hits, pagerank

__all__ = [
    "anchor_terms",
    "anchor_text_edges",
    "extract_page_text",
    "host_hits",
    "host_link_edges",
    "host_rank",
    "page_link_edges",
    "resolve_redirects",
]

#: absolute http(s) links only — relative hrefs have no host
_ABS_RE = r"^https?://"


def extract_page_text(
    df: DataFrame,
    html_col: str = "html",
    out_col: str = "text_extracted",
    title_col: str = "title",
    links_col: str = "n_links",
) -> DataFrame:
    """Append ``out_col`` (visible text), ``title_col`` and
    ``links_col`` columns extracted from ``html_col`` (binary or
    string; binary is decoded as UTF-8 via cast). Pure column
    expressions. Raises up front if an output name collides with an
    existing column (a silent duplicate surfaces later as an
    AMBIGUOUS_REFERENCE far from the cause)."""
    taken = set(df.columns)
    for c in (out_col, title_col, links_col):
        if c in taken:
            raise ValueError(
                "extract_page_text output column %r already exists "
                "in the input — pass a different out_col/title_col/"
                "links_col" % c
            )
    s = F.col(html_col).cast("string")
    return df.select(
        "*",
        H.html_text(s).alias(out_col),
        H.html_title(s).alias(title_col),
        F.size(H.html_links(s)).alias(links_col),
    )


def host_link_edges(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    by_domain: bool = False,
    drop_self: bool = False,
) -> DataFrame:
    """``(src, dst)`` host-level link edges: one row per absolute
    http(s) href in each page's html, src = the page url's host,
    dst = the href's host (``by_domain=True`` collapses both to the
    registered domain, functions/urls.py heuristic). Multi-edges are
    preserved on purpose — a page linking a host twice votes twice in
    :func:`host_rank`, matching pagerank's multi-edge contract.
    ``drop_self`` removes same-host (navigation) edges.

    Plan: narrow projection -> explode -> filter; no shuffle here —
    the consumer (edge-count agg, pagerank's repartition) pays the
    one exchange.
    """
    s = F.col(html_col).cast("string")
    key = _host_key(by_domain)
    # Deliberate ONE-select explode (a measured exemption from the
    # ExtractGenerator rule): splitting "project the array first,
    # explode second" forces the href array through a Project ->
    # Generate row boundary (full UnsafeArrayData materialization per
    # page), which A/B'd ~1.5x SLOWER at 8M pages than letting the
    # Generate evaluate regexp_extract_all inline — the hoisted src
    # scalar here is one cheap short-url regex per href, not the
    # expensive per-doc tokenization the rule guards against
    # (BENCH/BASELINE.md web extraction section).
    edges = (
        df.select(
            key(F.col(url_col)).alias("src"),
            F.explode(H.html_links(s)).alias("href"),
        )
        .where(F.col("href").rlike(_ABS_RE))
        .select("src", key(F.col("href")).alias("dst"))
        .where((F.col("src") != F.lit("")) & (F.col("dst") != F.lit("")))
    )
    if drop_self:
        edges = edges.where(F.col("src") != F.col("dst"))
    return edges


def _host_key(by_domain: bool):
    if by_domain:
        return lambda c: U.registered_domain(U.url_host(c))
    return U.url_host


def anchor_text_edges(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    by_domain: bool = False,
) -> DataFrame:
    """``(src, dst, anchor)`` — one row per absolute-href ``<a>``
    element: the host-level edge PLUS the anchor's visible text (the
    classic web-IR signal: what the web CALLS the target — anchor
    text describes dst better than dst's own page text, the original
    Google/AltaVista observation). Markup-only anchors (image links)
    keep ``anchor = ''``; filter downstream if unwanted.

    Plan: same shape as host_link_edges — one-select explode of the
    anchor-snippet array (the measured ExtractGenerator exemption:
    the hoisted src scalar is one cheap url regex), then per-row
    href/text regexp on short scalar strings, all whole-stage
    codegen; no Python, no shuffle.
    """
    key = _host_key(by_domain)
    s = F.col(html_col).cast("string")
    return (
        df.select(
            key(F.col(url_col)).alias("src"),
            F.explode(H.html_anchors(s)).alias("_a"),
        )
        .withColumn("href", H.anchor_href(F.col("_a")))
        .where(F.col("href").rlike(_ABS_RE))
        .select(
            "src",
            key(F.col("href")).alias("dst"),
            H.anchor_text(F.col("_a")).alias("anchor"),
        )
        .where(
            (F.col("src") != F.lit("")) & (F.col("dst") != F.lit(""))
        )
    )


def anchor_terms(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    by_domain: bool = False,
    min_count: int = 2,
    drop_self: bool = False,
) -> DataFrame:
    """Per-target-host anchor-term index -> ``(dst, term, n)``:
    lowercased whitespace terms of every inbound anchor's text,
    counted per target host and pruned below ``min_count`` (the
    long-tail cut — at crawl scale the term histogram is Zipfian and
    singletons are mostly noise/typos). ``drop_self`` excludes
    same-host (navigation) anchors, usually what you want for an
    authority-description index.

    One exchange: the extraction runs at scan width and the
    ``(dst, term)`` groupBy is the only shuffle, partial-agg
    friendly.
    """
    edges = anchor_text_edges(
        df, html_col=html_col, url_col=url_col, by_domain=by_domain
    )
    if drop_self:
        edges = edges.where(F.col("src") != F.col("dst"))
    return (
        edges.select(
            "dst",
            F.explode(F.split(F.col("anchor"), " ")).alias("_t"),
        )
        .where(F.col("_t") != F.lit(""))
        .select("dst", F.lower(F.col("_t")).alias("term"))
        .groupBy("dst", "term")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= F.lit(int(min_count)))
    )


def page_link_edges(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    drop_self: bool = False,
) -> DataFrame:
    """``(src, dst)`` PAGE-level link edges: one row per href in
    each page's html with the href RESOLVED against the page URL
    (functions/urls.resolve_href — relative paths, ``..`` segments,
    ``//host``, ``?query`` all land on absolute http(s) URLs;
    fragments-only, mailto:/javascript: and other non-web links
    drop). The page-granularity sibling of :func:`host_link_edges`
    — feed to pagerank/hits for page-level authority, or to
    resolve_redirects-canonicalized frontiers. Multi-edges are
    preserved (the pagerank multi-edge contract); ``drop_self``
    removes self-links (a page linking to itself post-resolution,
    e.g. via ``#fragment``-less ``?query`` of itself).

    Plan: the host_link_edges shape — one-select explode (the
    measured ExtractGenerator exemption), then the resolve CASE and
    its dot-segment fold per href row; no Python, no shuffle.
    """
    s = F.col(html_col).cast("string")
    edges = (
        df.select(
            F.col(url_col).alias("src"),
            F.explode(H.html_links(s)).alias("href"),
        )
        .select(
            "src",
            U.resolve_href(F.col("src"), F.col("href")).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
    )
    if drop_self:
        edges = edges.where(F.col("src") != F.col("dst"))
    return edges


def resolve_redirects(
    redirects: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_hops: int = 32,
) -> DataFrame:
    """Resolve HTTP redirect chains to their final target -> one row
    per redirect SOURCE: ``(src, final, n_hops, resolved)``. The
    crawl-canonicalization step: a frontier/dedup keyed on the final
    URL collapses every hop of a chain onto one document.

    Semantics:

    * ``redirects`` is ``(src, dst)`` — a url (or host) redirecting
      to another. Conflicting rows (one src, several dsts — snapshot
      noise) collapse DETERMINISTICALLY to ``min(dst)``.
    * ``final`` = the first node reached with no outgoing redirect;
      ``n_hops`` = exact chain length to it.
    * Cycles (incl. self-redirects) and chains longer than
      ``max_hops`` come back ``resolved=false, final/n_hops NULL`` —
      the HTTP-client redirect-cap behavior, not an error.

    Algorithm: pointer DOUBLING — ``ptr(u) <- ptr(ptr(u))`` with
    hop counts adding, terminals absorbing (ptr=self, 0 hops), so
    ``ceil(log2(max_hops))`` rounds resolve every chain up to
    max_hops regardless of length skew; cycle members keep rotating
    and are detected at the end by ``final ptr still has an outgoing
    redirect``. Per round one equi self-join on a relation of
    |distinct urls| rows (the CC pointer-jumping shape, each round
    localCheckpointed). Everything is equality + integer adds, so a
    DuckDB twin running the same fixed rounds matches bit-for-bit
    (the ``redirect_resolve`` extra query).
    """
    if int(max_hops) < 1:
        raise ValueError("max_hops must be >= 1")
    m = (
        redirects.groupBy(F.col(src_col).alias("node"))
        .agg(F.min(F.col(dst_col)).alias("ptr"))
        .localCheckpoint(eager=True)
    )
    # terminals (targets that never redirect) absorb: ptr=self, 0 hops
    term = (
        m.select(F.col("ptr").alias("node"))
        .distinct()
        .join(m.select("node"), "node", "left_anti")
        .select("node", F.col("node").alias("ptr"))
    )
    p = (
        m.withColumn("h", F.lit(1).cast("long"))
        .unionByName(term.withColumn("h", F.lit(0).cast("long")))
        .localCheckpoint(eager=True)
    )
    rounds = max(1, (int(max_hops) - 1).bit_length())

    def step(p):
        a = p.select(
            F.col("node"), F.col("ptr").alias("_mid"), F.col("h")
        )
        b = p.select(
            F.col("node").alias("_mid"),
            F.col("ptr").alias("_p2"),
            F.col("h").alias("_h2"),
        )
        return checkpoint(
            a.join(b, "_mid")
            .select(
                "node",
                F.col("_p2").alias("ptr"),
                (F.col("h") + F.col("_h2")).alias("h"),
            )
        )

    p = fixpoint(step, p, rounds)
    # only redirect SOURCES get a row; resolved iff the final pointer
    # has no outgoing redirect AND the chain fit in max_hops
    out = (
        p.join(m.select("node"), "node", "left_semi")
        .join(
            m.select(F.col("node").alias("ptr"), F.lit(True).alias("_c")),
            "ptr",
            "left",
        )
        .withColumn(
            "resolved",
            F.col("_c").isNull() & (F.col("h") <= F.lit(int(max_hops))),
        )
    )
    return out.select(
        F.col("node").alias("src"),
        F.when(F.col("resolved"), F.col("ptr")).alias("final"),
        F.when(F.col("resolved"), F.col("h")).alias("n_hops"),
        "resolved",
    )


def host_hits(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    by_domain: bool = False,
    iterations: int = 10,
    scale: int | None = None,
) -> DataFrame:
    """HITS over the host-level link graph -> ``(node, hub, auth)``
    with host (or registered-domain) string keys — the hub/authority
    complement to :func:`host_rank` (see operators/graph.hits for
    the exact-mode scale bound: ``scale**2 * n_edges < 2**63``)."""
    return hits(
        host_link_edges(
            df, html_col=html_col, url_col=url_col, by_domain=by_domain
        ),
        iterations=iterations,
        scale=scale,
    )


def host_rank(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    by_domain: bool = False,
    iterations: int = 10,
    scale: int | None = None,
    damping: tuple = (85, 100),
) -> DataFrame:
    """PageRank over the host-level link graph of a pages table ->
    ``(node, rank)`` where ``node`` is the host (or registered
    domain) string. ``scale`` selects the exact-integer mode (see
    operators/graph.pagerank) — string keys ride through unchanged
    since pagerank only ever compares them for equality."""
    return pagerank(
        host_link_edges(
            df, html_col=html_col, url_col=url_col, by_domain=by_domain
        ),
        iterations=iterations,
        scale=scale,
        damping=damping,
    )
