"""X83/X84: URL alias unification — one identity per page (SURVEY
§2.11 extension; round 12).  Round 12 built four independent alias
detectors: X55 canonicalization (spelling), X82 redirects (server
moves), X73 DUST rules (content-irrelevant params), and — added here —
the page's own ``<link rel="canonical">`` declaration (X83).  Each
catches aliases the others can't; a corpus needs them UNIFIED, because
alias relations COMPOSE (u redirects to v, v declares canonical w,
w differs from x only by a dead param): the real identity is the
connected component of the union alias graph, which is exactly what
X78's large-star/small-star components compute in O(log n) rounds.

X83 ``canonical_link``: the ``<link rel="canonical" href>`` element
(the de-facto standard all search crawlers honor; RFC 6596) as a pure
expression — attribute-order/quote agnostic (the X77 lookahead
pattern), entity-decoded, resolved against the page URL via X69
(relative canonicals are legal and common), http(s)-only.  Pages
without the element get NULL (absence is "I am my own canonical").

X84 ``unify_aliases``: edge frames from any detector mix → X78 star
components → (url, canonical_id) where canonical_id = the component's
minimum SPELLING.  Minimum-as-identity is the house deterministic-
survivor rule (X1/X63); callers wanting a semantic representative
(e.g. the redirect target rather than source) relabel the component
by joining their preference — identity and representative are
separate concerns.

Self-declared canonicals are UNTRUSTED input (a spam page may declare
someone else's URL): ``canonical_edges`` can therefore be restricted
to same-registered-domain pairs (``same_host_only`` via a caller
host-extraction column pair), the policy all major crawlers apply.

Scale shape: every detector's edge list is alias-bounded (≪ corpus);
the union + components run on edges only, and the final corpus
relabel is one url-keyed equi-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# The whole-document pass captures the FIRST declaring ELEMENT; href
# extraction then runs over that short tag string, so a later quoted
# declaration can never outrank an earlier bare one (first-declaration-
# wins for real — round 14, the same fix as licenses.py).
_CANONICAL_ELEM = (
    r"(?is)(<link\b(?=[^>]*\brel\s*=\s*[\"']?\s*canonical\s*[\"'\s/>])"
    r"[^>]*>)"
)
_HREF_Q = r"(?is)(?<![\w-])href\s*=\s*([\"'])(.*?)\1"
_HREF_BARE = r"(?is)(?<![\w-])href\s*=\s*([^\s\"'>]+)"


def canonical_link(
    html_col: str | Column, url_col: str | Column
) -> Column:
    """The absolute http(s) URL the page declares as its canonical,
    or NULL (no declaration / unresolvable / non-http(s)).  First
    declaration wins when a page carries several (the crawler
    convention)."""
    from covid19i2b2_spark.operators.links import resolve_url
    from covid19i2b2_spark.operators.robots import _xml_unescape

    h = F.col(html_col) if isinstance(html_col, str) else html_col
    u = F.col(url_col) if isinstance(url_col, str) else url_col
    elem = F.regexp_extract(h, _CANONICAL_ELEM, 1)
    quoted = F.regexp_extract(elem, _HREF_Q, 2)
    bare = F.regexp_extract(elem, _HREF_BARE, 1)
    raw = F.when(
        F.regexp_extract(elem, _HREF_Q, 0) != "", quoted
    ).otherwise(F.when(bare != "", bare))
    # tab/CR/LF are stripped from URL attribute values per HTML (the
    # X69 rule), entities decoded before resolution.  BOTH the cleaned
    # href and the resolved URL are bound ONCE via single-element HOF
    # lambdas: resolve_url references its ref argument many times
    # internally and the http(s) gate references the resolution twice
    # — direct references measured 210 KB of optimized plan for one
    # call (the urls.py tree-duplication trap; now ~4 KB)
    cleaned = _xml_unescape(F.regexp_replace(raw, r"[\t\r\n]", ""))
    return F.element_at(
        F.transform(
            F.array(cleaned),
            lambda r: F.element_at(
                F.transform(
                    F.array(resolve_url(u, r)),
                    lambda rr: F.when(
                        F.lower(rr).rlike(r"^https?://"), rr
                    ),
                ),
                1,
            ),
        ),
        1,
    )


def canonical_edges(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    *,
    same_host_only: bool = True,
) -> DataFrame:
    """(src, dst) alias edges from rel=canonical declarations.
    ``same_host_only`` drops cross-host declarations (self-declared
    canonicals are untrusted input — module docstring); pass False
    when the caller has its own trust policy."""
    from covid19i2b2_spark.operators.urls import extract_host

    edges = pages.select(
        F.col(url_col).alias("src"),
        canonical_link(html_col, url_col).alias("dst"),
    ).filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
    if same_host_only:
        edges = edges.filter(
            extract_host(F.col("src")).eqNullSafe(
                extract_host(F.col("dst"))
            )
        )
    return edges


def unify_aliases(
    edge_frames: list[DataFrame],
    cache_handles: list | None = None,
) -> DataFrame:
    """(url, canonical_id) over the UNION of alias edge frames (each
    (src, dst) strings — X82 resolved redirects as (src, final_url),
    X83 canonical edges, X73 (url, rewritten) pairs, X55
    (url, canonical_url) pairs; mix freely).  canonical_id = the
    component's minimum spelling (deterministic); URLs that appear in
    no edge are their own identity by absence and are NOT emitted —
    relabel the corpus with a left join + coalesce(canonical_id,
    url)."""
    from covid19i2b2_spark.operators.dedup_clusters import (
        connected_components,
    )

    if not edge_frames:
        raise ValueError("unify_aliases needs at least one edge frame")
    union = edge_frames[0].select(
        F.col("src").cast("string"), F.col("dst").cast("string")
    )
    for other in edge_frames[1:]:
        union = union.unionByName(
            other.select(
                F.col("src").cast("string"), F.col("dst").cast("string")
            )
        )
    labels = connected_components(
        union.filter(
            F.col("src").isNotNull() & F.col("dst").isNotNull()
        ),
        "src",
        "dst",
        cache_handles=cache_handles,
    )
    return labels.select(
        F.col("node").alias("url"),
        F.col("component").alias("canonical_id"),
    )
