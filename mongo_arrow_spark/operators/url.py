"""URL tier for the crawl path: canonicalization, host / registered-
domain extraction, URL-dedup and per-domain caps — the step every
CCNet/C4/RefinedWeb reproduction runs BEFORE content dedup (a crawl
fetches the same document under ``http://WWW.Example.com:80/a/?utm_…``
and ``https://example.com/a`` long before its text is compared).

Scale design: everything here is a map-only JVM expression chain
(``regexp_extract`` / higher-order array functions — no UDF, no
shuffle, stays inside whole-stage codegen; even the full public-suffix
list rides the plan as array literals). Patterns avoid backreferences and lookarounds so an
RE2-based oracle (DuckDB) can replay them exactly — the
``html_to_text`` discipline (text.py).

Reference parity note: the reference's connector has no URL surface
(it delegates string processing to mongod's $regexFind etc.,
pymongoarrow/api.py); this tier exists for the training-data pipeline
goal, like dedup/similarity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mongo_arrow_spark.execution import spread

__all__ = [
    "TRACKING_PARAM_RE",
    "DEFAULT_MULTI_SUFFIXES",
    "canonicalize_url",
    "url_host",
    "parse_public_suffix_list",
    "registered_domain",
    "url_dedup",
    "cap_per_domain",
    "url_word_score",
    "filter_urls",
    "DEFAULT_URL_WORD_WEIGHTS",
    "extract_links",
    "link_host_edges",
    "parse_robots",
    "robots_allowed",
    "crawl_frontier",
    "parse_sitemap",
    "canonical_target",
    "dedup_by_canonical",
    "schedule_fetches",
]

# Tracking / click-id query parameters every major pipeline strips.
# Anchored key-only regex (the part before '='): utm_* plus the known
# click identifiers. RE2-portable (no lookarounds). Case-insensitive
# ((?i)) — the rest of canonicalization folds scheme/host case, and a
# case-variant refetch URL (UTM_SOURCE=, FBclid=) must not escape
# url_dedup (r11 ADVICE fix).
TRACKING_PARAM_RE = (
    r"(?i)^(utm_[A-Za-z0-9_]*|gclid|gclsrc|dclid|fbclid|msclkid|igshid"
    r"|mc_cid|mc_eid|mkt_tok|yclid|_ga|_gl|spm|ref_src)(=.*)?$"
)

# Multi-label public suffixes for the expression-form registered-domain
# extraction: a compact, documented SUBSET of publicsuffix.org covering
# the high-traffic ccTLD second-level registries. Single-label TLDs
# need no listing (the fallback takes the last label). For full PSL
# fidelity — thousands of rules plus ``*.x`` wildcards and ``!x``
# exceptions — ship publicsuffix.org's dat file with the job and pass
# ``rules=parse_public_suffix_list(...)``; it rides the plan as array
# literals exactly like this subset.
DEFAULT_MULTI_SUFFIXES = [
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.br", "net.br", "org.br", "gov.br",
    "co.in", "net.in", "org.in", "gov.in", "ac.in",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn",
    "co.kr", "or.kr", "ac.kr", "go.kr",
    "com.mx", "org.mx", "gob.mx",
    "co.za", "org.za", "gov.za", "ac.za",
    "com.tr", "org.tr", "gov.tr", "edu.tr",
    "com.ar", "com.sg", "com.hk", "com.tw", "com.my",
    "co.nz", "org.nz", "net.nz", "govt.nz",
    "co.id", "or.id", "ac.id", "go.id",
    "com.ua", "gov.ua", "com.pl", "edu.pl",
    "co.il", "org.il", "ac.il", "gov.il",
    "com.eg", "com.sa", "com.ng", "co.th", "ac.th", "go.th",
]

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_AUTH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
_QUERY_RE = r"^[^#?]*\?([^#]*)"


def _lc(c: Column) -> Column:
    return F.lower(c)


def url_host(col: Column | str) -> Column:
    """Lowercased host of a raw URL: authority minus userinfo
    (``user:pass@``) and port. Empty string when the input has no
    ``scheme://`` part (relative URLs carry no host). Map-only."""
    u = F.trim((col if isinstance(col, Column) else F.col(col)).cast("string"))
    auth = F.regexp_extract(u, _AUTH_RE, 1)
    host = F.regexp_replace(auth, r"^[^@]*@", "")
    host = F.regexp_replace(host, r":[0-9]*$", "")
    return _lc(host)


def canonicalize_url(
    col: Column | str,
    strip_tracking: bool = True,
    sort_query: bool = True,
    strip_www: bool = False,
) -> Column:
    """Canonical form of an absolute URL, entirely as JVM expressions:

    - scheme and host lowercased (path/query stay case-sensitive);
    - userinfo and default ports dropped (``:80`` for http, ``:443``
      for https — other ports are kept);
    - fragment dropped;
    - empty path becomes ``/``; trailing slashes collapse
      (``/a/`` → ``/a``) except at the root;
    - tracking parameters stripped (``strip_tracking``,
      :data:`TRACKING_PARAM_RE`) and the survivors sorted
      (``sort_query``) so parameter order cannot defeat URL-dedup;
      empty parameters (``a=1&&b=2``) drop either way;
    - ``strip_www=True`` additionally folds a leading ``www.``.

    A value with no recognizable ``scheme://`` is passed through
    trimmed but otherwise untouched — mangling a non-URL is worse
    than not canonicalizing it. NULL stays NULL. One codegen'd
    projection per row; no UDF, no shuffle."""
    u = F.trim((col if isinstance(col, Column) else F.col(col)).cast("string"))
    scheme = _lc(F.regexp_extract(u, _SCHEME_RE, 1))
    host = url_host(u)
    if strip_www:
        host = F.regexp_replace(host, r"^www\.", "")
    port = F.regexp_extract(
        F.regexp_replace(F.regexp_extract(u, _AUTH_RE, 1), r"^[^@]*@", ""),
        r":([0-9]+)$",
        1,
    )
    keep_port = (port != F.lit("")) & ~(
        ((scheme == F.lit("http")) & (port == F.lit("80")))
        | ((scheme == F.lit("https")) & (port == F.lit("443")))
    )
    hostport = F.when(keep_port, F.concat(host, F.lit(":"), port)).otherwise(
        host
    )
    path = F.regexp_extract(u, _PATH_RE, 1)
    path = F.regexp_replace(path, r"/+$", "")
    path = F.when(path == F.lit(""), F.lit("/")).otherwise(path)
    q = F.regexp_extract(u, _QUERY_RE, 1)
    parts = F.split(q, "&")
    parts = F.filter(parts, lambda p: p != F.lit(""))
    if strip_tracking:
        parts = F.filter(parts, lambda p: ~p.rlike(TRACKING_PARAM_RE))
    if sort_query:
        parts = F.array_sort(parts)
    qs = F.array_join(parts, "&")
    canon = F.concat(
        scheme,
        F.lit("://"),
        hostport,
        path,
        F.when(qs != F.lit(""), F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
    )
    return F.when(scheme == F.lit(""), u).otherwise(canon)


def parse_public_suffix_list(text: str) -> dict:
    """Parse publicsuffix.org ``public_suffix_list.dat`` content into
    the rule dict :func:`registered_domain` accepts: ``{"exact":
    [...], "wildcard": [<bases of *.x rules>], "exception": [<rules
    after '!'>]}``. Comments (``//``), blank lines and trailing text
    after whitespace are dropped, everything lowercased. Ship the file
    with your job and pass ``rules=parse_public_suffix_list(open(p)
    .read())`` — it becomes plan literals exactly like the built-in
    subset."""
    exact: list[str] = []
    wildcard: list[str] = []
    exception: list[str] = []
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith("//"):
            continue
        rule = line.split()[0].lower()
        if rule.startswith("!"):
            exception.append(rule[1:])
        elif rule.startswith("*."):
            wildcard.append(rule[2:])
        else:
            exact.append(rule)
    return {"exact": exact, "wildcard": wildcard, "exception": exception}


def registered_domain(
    host: Column | str,
    suffixes: list[str] | None = None,
    rules: dict | None = None,
) -> Column:
    """Registered (pay-level) domain of a HOST column: the public
    suffix plus one label — ``news.bbc.co.uk`` → ``bbc.co.uk``,
    ``a.b.example.com`` → ``example.com``.

    Pure expression form: the suffix rules ride in the plan as array
    literals per length class (they ship to every executor with the
    task binary — a broadcast in Spark's own mechanism, no join, no
    shuffle). PSL semantics: the MOST SPECIFIC matching rule wins
    (nested suffixes like ``ak.us`` + ``k12.ak.us`` resolve to the
    longer), ``*.<base>`` wildcard rules treat every direct child of
    ``base`` as a public suffix, and ``!<rule>`` exceptions override
    everything (``!www.ck`` under ``*.ck`` makes ``www.ck``
    registrable). Unlisted TLD → the last label is the suffix; hosts
    with no more labels than the suffix pass through unchanged; IPv4
    literals pass through whole (a dotted-quad is not a domain
    hierarchy).

    ``suffixes``: a plain list of exact multi-label suffixes (the
    compact built-in :data:`DEFAULT_MULTI_SUFFIXES` when None).
    ``rules``: the full-fidelity dict from
    :func:`parse_public_suffix_list` — overrides ``suffixes``."""
    h = _lc(
        F.trim(
            (host if isinstance(host, Column) else F.col(host)).cast("string")
        )
    )
    if rules is None:
        rules = {
            "exact": (
                DEFAULT_MULTI_SUFFIXES if suffixes is None else list(suffixes)
            ),
            "wildcard": [],
            "exception": [],
        }
    labels = F.split(h, r"\.")
    n = F.size(labels)

    def last(k):
        # join of the last k labels (k is a python int: slice is static)
        return F.array_join(
            F.slice(labels, n - (k - 1), k), "."
        )

    def _by_len(vals):
        out: dict[int, list[str]] = {}
        for s in vals:
            out.setdefault(s.count(".") + 1, []).append(s.lower())
        return out

    # Build the CASE chain shortest-to-longest so the LONGEST matching
    # rule sits outermost and wins (building longest-first put the
    # shortest class at the head of the final CASE — nested suffixes
    # resolved to the shorter rule, the r11 precedence fix). Wildcard
    # ``*.base`` has effective suffix length len(base)+1, merged into
    # the same ordering; exceptions apply last (outermost), overriding
    # all.
    tiers: list[tuple[int, str, int, list[str]]] = []
    for k, vals in _by_len(rules.get("exact", ())).items():
        tiers.append((k, "exact", k, vals))
    for k, vals in _by_len(rules.get("wildcard", ())).items():
        tiers.append((k + 1, "wildcard", k, vals))
    # Membership tests compile to Catalyst `In`, which becomes `InSet`
    # (hash-set lookup) above spark.sql.optimizer.inSetConversionThreshold
    # (default 10) — O(1) per length class even at the full-PSL dial
    # (~9 500 exact rules), where the previous array_contains(literal
    # array, …) form was a linear scan of thousands of string compares
    # per row (r11 verdict fix). Same semantics, same oracles.
    suffix_labels = F.lit(1)
    for eff, kind, k, vals in sorted(tiers, key=lambda t: (t[0], t[1])):
        member = last(k).isin(*sorted(vals))
        if kind == "exact":
            cond = (n > k) & member
        else:
            # the '*' label must exist AND a registrant label above it
            cond = (n > k + 1) & member
        suffix_labels = F.when(cond, F.lit(eff)).otherwise(suffix_labels)
    for k, vals in sorted(_by_len(rules.get("exception", ())).items()):
        # the exception rule ITSELF is registrable: its suffix is the
        # rule minus its first label
        suffix_labels = F.when(
            (n >= k) & last(k).isin(*sorted(vals)), F.lit(k - 1)
        ).otherwise(suffix_labels)
    dom_labels = suffix_labels + 1
    is_ipv4 = h.rlike(r"^[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+$")
    return F.when(
        is_ipv4 | (n <= dom_labels), h
    ).otherwise(F.array_join(F.slice(labels, n - suffix_labels, dom_labels), "."))


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    **canon_kwargs,
) -> DataFrame:
    """Keep one row (min ``id_col``) per CANONICAL URL — the crawl
    pipeline's first dedup stage, run before any content comparison.
    Composition of :func:`canonicalize_url` with the exact-dedup
    groupBy: shuffles (md5(canonical_url), id) pairs only — payloads
    never move."""
    key = F.md5(canonicalize_url(F.col(url_col), **canon_kwargs))
    keep = (
        df.select(key.alias("__k"), F.col(id_col))
        .groupBy("__k")
        .agg(F.min(id_col).alias(id_col))
        .drop("__k")
    )
    return df.join(keep, id_col, "left_semi")


def cap_per_domain(
    df: DataFrame,
    url_col: str = "url",
    n: int = 1000,
    order_by=None,
    id_col: str = "doc_id",
    suffixes: list[str] | None = None,
) -> DataFrame:
    """Keep at most ``n`` documents per registered domain (the
    RefinedWeb per-domain cap, keyed by the URL itself). Map-only
    domain extraction feeding :func:`selection.cap_per_group`'s
    partial-WindowGroupLimit cut — a heavy domain arrives at its
    reduce task already pre-cut per input partition."""
    from mongo_arrow_spark.operators.selection import cap_per_group

    tagged = df.withColumn(
        "__dom", registered_domain(url_host(F.col(url_col)), suffixes)
    )
    return cap_per_group(
        tagged, "__dom", n, order_by=order_by, id_col=id_col
    ).drop("__dom")


def url_word_score(
    col: Column | str, word_weights: dict[str, float] | None = None
) -> Column:
    """RefinedWeb-style soft URL score: Σ weight over the flagged
    terms appearing as substrings of the lowercased URL. Pure JVM
    projection — one ``contains`` per term (term lists are tens of
    entries; each compiles to a codegen'd substring search). Higher =
    more objectionable; threshold it with :func:`filter_urls`.

    ``word_weights`` defaults to :data:`DEFAULT_URL_WORD_WEIGHTS` — a
    small, documented stand-in for the production lists (UT1-class
    blocklists ship hundreds of terms; they ride the plan the same
    way)."""
    weights = (
        DEFAULT_URL_WORD_WEIGHTS if word_weights is None else word_weights
    )
    u = _lc(
        F.trim((col if isinstance(col, Column) else F.col(col)).cast("string"))
    )
    score = F.lit(0.0)
    for term, w in sorted(weights.items()):
        score = score + F.when(u.contains(term.lower()), F.lit(float(w))).otherwise(
            F.lit(0.0)
        )
    # NULL in -> NULL out (a missing URL has no score; filter_urls
    # drops such rows explicitly)
    return F.when(u.isNotNull(), score)


# Compact documented stand-in for the UT1/adult/spam URL term lists the
# production pipelines weight (RefinedWeb §G.1 uses soft word scores so
# "essex"/"sexton" class false positives need several hits to trip).
DEFAULT_URL_WORD_WEIGHTS: dict[str, float] = {
    "porn": 2.0, "xxx": 2.0, "sex": 1.0, "casino": 1.5, "viagra": 2.0,
    "escort": 1.5, "poker": 1.0, "bet365": 1.5, "camgirl": 2.0,
    "hentai": 2.0, "warez": 1.5, "crack-download": 1.5, "free-iphone": 1.5,
}


def filter_urls(
    df: DataFrame,
    url_col: str = "url",
    block_domains: list[str] | None = None,
    word_weights: dict[str, float] | None = None,
    max_word_score: float = 2.0,
    suffixes: list[str] | None = None,
) -> DataFrame:
    """URL-level filtering, the stage crawls run before fetching text
    signals (RefinedWeb/CCNet order — drop on the URL alone):

    - ``block_domains``: a listed domain blocks itself AND every
      subdomain (UT1-class lists mix registrable domains and full
      hosts) — the host's last-k-labels are membership-tested per
      label-depth class, each an ``InSet`` hash lookup (plan literal,
      no join, no shuffle; a million-entry production blocklist would
      swap to a broadcast anti-join, same contract).
    - soft word score (:func:`url_word_score`) must stay UNDER
      ``max_word_score`` (strict <) — single ambiguous hits survive,
      accumulation trips.

    Map-only: both tests are projections; the plan gains no exchange.
    NULL urls drop (no URL = no provenance = not crawlable content).
    """
    u = F.col(url_col)
    # NULL urls drop unconditionally (documented contract): a NULL
    # score would otherwise read as 0.0 < threshold and keep the row
    # whenever no blocklist conjunct nulls it out (r12 review fix)
    keep = u.isNotNull() & (
        url_word_score(u, word_weights) < F.lit(float(max_word_score))
    )
    if block_domains:
        host = url_host(u)
        labels = F.split(host, r"\.")
        n = F.size(labels)
        by_len: dict[int, list[str]] = {}
        for d in {d.lower().strip(".") for d in block_domains}:
            by_len.setdefault(d.count(".") + 1, []).append(d)
        for k, vals in sorted(by_len.items()):
            last_k = F.array_join(F.slice(labels, n - (k - 1), k), ".")
            keep = keep & ((n < k) | ~last_k.isin(*sorted(vals)))
    return df.filter(keep)


def _origin(base: Column) -> Column:
    """``scheme://host[:port]`` of an absolute URL (empty string when
    the base has no scheme)."""
    return F.regexp_extract(base, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)


def _base_dir(base: Column) -> Column:
    """The base URL's directory path (through the last ``/``), ``/``
    when the base path is empty — the resolution root for
    document-relative references."""
    path = F.regexp_extract(base, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    d = F.regexp_extract(path, r"^(.*/)", 1)
    return F.when(d == F.lit(""), F.lit("/")).otherwise(d)


def _resolve_ref(
    l: Column, base: Column, max_dotdot: int = 4
) -> Column:
    """RFC-3986-style reference resolution as JVM expressions (shared
    by :func:`extract_links` and :func:`dedup_by_canonical`): absolute
    / protocol-relative / root-relative / query-only / document-
    relative with ``/./`` folding, up to ``max_dotdot`` ``seg/../``
    reductions, and excess ``../`` clamped at the root (§5.2.4). NULL
    in → NULL out."""
    scheme = F.lower(F.regexp_extract(base, _SCHEME_RE, 1))
    origin = _origin(base)
    bdir = _base_dir(base)
    bpath = F.regexp_extract(base, _PATH_RE, 1)
    bpath = F.when(bpath == F.lit(""), F.lit("/")).otherwise(bpath)
    rel = F.concat(bdir, l)
    rel = F.regexp_replace(rel, r"/\./", "/")
    for _ in range(int(max_dotdot)):
        rel = F.regexp_replace(rel, r"/[^/]+/\.\./", "/")
    rel = F.regexp_replace(rel, r"^(/\.\.)+/", "/")
    return (
        F.when(l.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://"), l)
        .when(l.startswith("//"), F.concat(scheme, F.lit(":"), l))
        .when(l.startswith("/"), F.concat(origin, l))
        # query-only reference: same FULL base path, new query (§5.3
        # — appending to the base DIR would be wrong)
        .when(l.startswith("?"), F.concat(origin, bpath, l))
        .otherwise(F.concat(origin, rel))
    )


def extract_links(
    html_col: Column | str,
    base_url_col: Column | str | None = None,
    max_dotdot: int = 4,
) -> Column:
    """``array<string>`` of outlink URLs from an HTML payload — the
    crawl-frontier / link-graph primitive (r13). Extraction and
    resolution are entirely JVM expressions (``regexp_extract_all`` +
    higher-order ``transform``/``filter`` lambdas — no UDF, no
    shuffle), same discipline as the rest of the tier.

    Extraction: every quoted ``href`` attribute value of an ``<a>``
    element (double- or single-quoted; unquoted hrefs — invalid per
    the HTML spec for URLs with spaces, vanishingly rare otherwise —
    are skipped, the documented regex limit). Fragments are cut,
    surrounding whitespace trimmed; empty, ``javascript:``,
    ``mailto:``, ``tel:`` and ``data:`` pseudo-links drop.

    Resolution against the page's EFFECTIVE base: the first
    ``<base href>`` element when the page declares one (itself
    resolved against ``base_url_col`` — RFC 3986 §5.1.1 makes the
    base element the first base candidate), else ``base_url_col``
    directly. Skipped when ``base_url_col`` is None — relative links
    then drop, absolute ones pass through. The classes:

    - ``scheme://...`` absolute — kept as-is;
    - ``//host/...`` protocol-relative — base scheme prepended;
    - ``/path`` root-relative — base origin prepended;
    - anything else document-relative — resolved against the base
      URL's directory, with ``/./`` folded and up to ``max_dotdot``
      ``seg/../`` reductions applied (a bounded, deterministic
      approximation of RFC 3986 §5.2.4 — deeper ``../`` chains keep
      their residue, documented).

    Composes downstream with :func:`canonicalize_url` /
    :func:`url_host` inside a ``transform`` lambda. NULL html yields
    NULL; a page with no links yields an empty array."""
    x = (
        html_col if isinstance(html_col, Column) else F.col(html_col)
    ).cast("string")
    # boundary before href (data-href/ng-href must not match) and
    # PAIRED quotes via a backreference (an apostrophe inside a
    # double-quoted value must not truncate it). The backreference is
    # a documented deviation from the module's RE2-portable pattern
    # discipline: no oracle replays THIS regex (the battery oracle
    # states resolved links closed-form), so Java-only syntax is safe
    # here.
    raw = F.regexp_extract_all(
        x,
        F.lit(
            r"(?is)<a\s(?:[^>]*?[\s'\"])?href\s*=\s*(['\"])(.*?)\1"
        ),
        2,
    )
    links = F.transform(
        raw, lambda l: F.regexp_replace(F.trim(l), r"#.*$", "")
    )
    links = F.filter(
        links,
        lambda l: (l != F.lit(""))
        & ~F.lower(l).rlike(r"^(javascript|mailto|tel|data):"),
    )
    if base_url_col is None:
        return F.filter(
            links, lambda l: l.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://")
        )
    base = F.trim(
        (
            base_url_col
            if isinstance(base_url_col, Column)
            else F.col(base_url_col)
        ).cast("string")
    )
    # RFC 3986 §5.1.1: a <base href> element is the FIRST base
    # candidate — pages that declare one (templated/CDN'd sites)
    # resolve every relative link against IT, not the page URL (r14
    # fix; resolving against the page URL poisoned the frontier and
    # host graph for exactly those sites). Only the first <base>
    # counts (the HTML spec); the href may itself be relative, so it
    # first resolves against the page URL. Same boundary/paired-quote
    # discipline as the href extraction above.
    btag = F.regexp_extract(
        x,
        r"(?is)<base\s(?:[^>]*?[\s'\"])?href\s*=\s*(['\"])(.*?)\1",
        2,
    )
    btag = F.nullif(
        F.regexp_replace(F.trim(btag), r"#.*$", ""), F.lit("")
    )
    eff_base = F.when(
        btag.isNotNull(), _resolve_ref(btag, base, max_dotdot=max_dotdot)
    ).otherwise(base)
    return F.transform(
        links, lambda l: _resolve_ref(l, eff_base, max_dotdot=max_dotdot)
    )


def link_host_edges(
    df: DataFrame,
    html_col: str = "payload",
    base_url_col: str = "url",
    weight: bool = True,
) -> DataFrame:
    """Host-level out-link graph from a crawled frame: one row per
    (src_host, dst_host) pair with the link count — the edge table the
    graph tier (PageRank/HITS host authority) and crawl-frontier
    prioritization consume. Self-loops (in-site navigation) are kept;
    filter ``src_host != dst_host`` for the cross-site graph.

    Scale shape: link extraction + host projection are map-side; the
    one aggregation shuffle is the partial-aggregated groupBy on
    (src, dst) — edge-count rows, never raw links, cross the wire.
    When the input arrives with fewer partitions than the session's
    parallelism (a few-split local read), a work-aware round-robin
    pre-shuffle of the input rows — page payloads included — fans the
    regex-heavy extraction out first; at crawl scale the input already
    has more splits than cores and no pre-shuffle happens."""
    # spread the extraction (r14): the regex-heavy link extraction runs
    # BEFORE the one aggregation shuffle and inherits the input
    # partitioning
    df = spread(df)
    edges = df.select(
        url_host(base_url_col).alias("src_host"),
        F.explode(extract_links(html_col, base_url_col)).alias("link"),
    ).select("src_host", url_host("link").alias("dst_host"))
    edges = edges.filter(
        (F.col("src_host") != F.lit("")) & (F.col("dst_host") != F.lit(""))
    )
    out = edges.groupBy("src_host", "dst_host")
    return out.agg(F.count("*").alias("n_links")) if weight else (
        edges.distinct()
    )


def parse_robots(
    df: DataFrame,
    host_col: str = "host",
    robots_col: str = "robots_txt",
) -> DataFrame:
    """Parse raw ``robots.txt`` bodies into a typed rule table —
    ``(host, agent, rule_allow, prefix, crawl_delay)`` — distributed
    (r13, the crawl-politeness tier). Implements the original Robots Exclusion
    Protocol: ``User-agent`` lines open a group (CONSECUTIVE
    user-agent lines share one group), ``Allow``/``Disallow`` lines
    attach a path prefix to every agent of their group; any directive
    line (including ``Crawl-delay``) ends a user-agent run, so a
    later ``User-agent`` opens a NEW group; comments
    (``#…``) and blank lines are ignored; agent names are
    case-folded, prefixes are kept case-sensitive. ``*``/``$``
    wildcards are NOT interpreted (prefix-only matching, the original
    REP — documented limit). Empty-prefix ``Disallow:`` (allow-all)
    directives carry no matchable prefix, but their GROUP still emits
    a NULL-prefix row — group existence drives agent precedence in
    :func:`robots_allowed`. Hosts are lowercased (case-insensitive
    per RFC).

    ``Crawl-delay`` directives attach to their group like rules: every
    output row carries the group's ``crawl_delay`` (seconds, double;
    NULL when the group declares none or the value is non-numeric) —
    :func:`schedule_fetches` consumes it to size per-host fetch waves.

    Duplicate-host contract (r14 fix): the per-host line windows are
    keyed by (host, body digest), so two DIFFERENT robots bodies for
    one host (refetched snapshots) parse independently and their rule
    groups UNION in the output — they can no longer interleave by
    line position and attach directives to the wrong groups; exact
    duplicate (host, body) rows are deduplicated up front.

    Plan shape: distinct over (host, body), ``split`` + ``posexplode``
    per body, ONE window over (host, body digest ordered by line
    position) to assign group ids — robots bodies are small (the spec
    caps at 500 KiB) so per-body line counts are bounded — then a
    group-local self-join of agents × rules. No UDF, and no positional
    ids: the window key is a content digest (the membership.py
    discipline)."""
    from pyspark.sql import Window

    # hosts fold case up front (case-insensitive per RFC — url_host
    # lowercases the join key on the URL side) so case-variant rows of
    # one host dedup together; exact duplicate bodies collapse here
    base = df.select(
        F.lower(F.col(host_col)).alias("host"),
        F.col(robots_col).alias("__body"),
    ).distinct()
    lines = base.select(
        "host",
        F.md5(F.coalesce(F.col("__body"), F.lit(""))).alias("__b"),
        F.posexplode(
            F.split(F.coalesce(F.col("__body"), F.lit("")), r"\r?\n")
        ).alias("pos", "line"),
    )
    norm = lines.withColumn(
        "line", F.trim(F.regexp_replace("line", r"#.*$", ""))
    ).filter(F.col("line") != "")
    norm = norm.withColumn(
        "key", F.lower(F.regexp_extract("line", r"^([A-Za-z-]+)\s*:", 1))
    ).withColumn(
        "val", F.trim(F.regexp_extract("line", r"^[A-Za-z-]+\s*:(.*)$", 1))
    )
    norm = norm.filter(
        F.col("key").isin("user-agent", "allow", "disallow", "crawl-delay")
    )
    w = Window.partitionBy("host", "__b").orderBy("pos")
    is_ua = F.col("key") == "user-agent"
    opens = is_ua & ~F.coalesce(F.lag(is_ua).over(w), F.lit(False))
    grouped = norm.withColumn(
        "grp", F.sum(opens.cast("int")).over(w)
    ).filter(F.col("grp") > 0)  # directives before any user-agent drop
    agents = grouped.filter(is_ua).select(
        "host", "__b", "grp", F.lower(F.col("val")).alias("agent")
    )
    rules = grouped.filter(
        F.col("key").isin("allow", "disallow") & (F.col("val") != "")
    ).select(
        "host",
        "__b",
        "grp",
        (F.col("key") == "allow").alias("rule_allow"),
        F.col("val").alias("prefix"),
    )
    delays = (
        grouped.filter(F.col("key") == "crawl-delay")
        .groupBy("host", "__b", "grp")
        # try_cast: a non-numeric delay value is NULL, not an ANSI
        # cast error killing the whole parse
        .agg(F.max(F.col("val").try_cast("double")).alias("crawl_delay"))
    )
    # LEFT joins: an agent group with no usable rules (only empty
    # Disallow / unknown keys) must still EXIST in the output — agent
    # precedence in robots_allowed depends on group existence (a
    # specific allow-all group overrides a blocking * group); its
    # NULL-prefix row can never match a path.
    return (
        agents.join(rules, ["host", "__b", "grp"], "left")
        .join(delays, ["host", "__b", "grp"], "left")
        .select("host", "agent", "rule_allow", "prefix", "crawl_delay")
    )


def robots_allowed(
    urls: DataFrame,
    rules: DataFrame,
    agent: str,
    url_col: str = "url",
    out_col: str = "allowed",
) -> DataFrame:
    """The input frame plus a boolean ``out_col`` column — may
    ``agent`` fetch each URL under the :func:`parse_robots` rule
    table? Google-documented REP semantics, prefix-only: the group
    for the EXACT matching agent wins entirely over the ``*`` group
    when one exists for the host; within the chosen group the
    LONGEST matching prefix decides, Allow winning length ties; no
    matching rule (or no rules for the host at all) means allowed.
    Raises when ``out_col`` already exists in the input (silent
    overwrite would corrupt caller data — pick another name).

    Plan shape: one window over the (small, per-host) rule table to
    resolve the agent group, then the chosen group's rules COLLAPSE
    to one array row per host (robots bodies are spec-capped at
    500 KiB, so the per-host rule array is bounded) and equi-join the
    URL frame on host (broadcastable for any real crawl's politeness
    set; AQE decides); the verdict is a higher-order filter +
    array_max argmax over that array. The URL side is never expanded
    or re-aggregated — input rows pass through the left join exactly
    once, so cardinality is preserved WITHOUT any row id (the r13
    ``monotonically_increasing_id`` verdict key was the
    nondeterministic-id hazard membership.py documents; r14 fix). No
    UDF, no cartesian."""
    from pyspark.sql import Window

    if out_col in urls.columns:
        raise ValueError(
            f"robots_allowed: output column {out_col!r} already exists in "
            "the input frame — pass out_col= to pick a free name"
        )
    a = agent.lower()
    # reserved __names on the rule side so an input frame carrying
    # columns like `prefix`/`agent` cannot make the join ambiguous
    cand = rules.select(
        F.lower(F.col("host")).alias("__host"),
        F.lower(F.col("agent")).alias("__agent"),
        F.col("rule_allow").alias("__allow"),
        F.col("prefix").alias("__prefix"),
    ).filter((F.col("__agent") == a) | (F.col("__agent") == "*"))
    hw = Window.partitionBy("__host")
    cand = cand.withColumn(
        "__has_specific",
        F.max((F.col("__agent") == a).cast("int")).over(hw),
    ).filter(
        (F.col("__agent") == a) == (F.col("__has_specific") == 1)
    ).drop("__has_specific")
    # one row per host: the chosen group's matchable rules as an array
    # of (prefix, length, allow) structs. NULL-prefix rows (ruleless
    # groups, kept for the precedence window above) contribute nothing
    # matchable — collect_list drops the NULL entries, leaving an
    # empty array, which verdicts to allowed.
    per_host = cand.groupBy("__host").agg(
        F.collect_list(
            F.when(
                F.col("__prefix").isNotNull(),
                F.struct(
                    F.col("__prefix").alias("p"),
                    F.length("__prefix").alias("l"),
                    F.col("__allow").alias("a"),
                ),
            )
        ).alias("__rules")
    )
    path = F.regexp_extract(
        F.col(url_col), r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1
    )
    u = urls.withColumn("__ra_host", url_host(url_col)).withColumn(
        "__ra_path",
        F.when(path == "", F.lit("/")).otherwise(path),
    )
    joined = u.join(
        per_host, u["__ra_host"] == per_host["__host"], "left"
    )
    # longest matching prefix wins, Allow winning length ties: max of
    # (l, a) structs — true > false makes Allow the tie winner. Empty
    # or NULL rule array -> NULL -> allowed.
    best = F.array_max(
        F.transform(
            F.filter(
                F.col("__rules"),
                lambda r: F.col("__ra_path").startswith(r["p"]),
            ),
            lambda r: F.struct(r["l"].alias("l"), r["a"].alias("a")),
        )
    )
    return joined.select(
        *[urls[c] for c in urls.columns],
        F.coalesce(best["a"], F.lit(True)).alias(out_col),
    )


def crawl_frontier(
    df: DataFrame,
    html_col: str = "payload",
    url_col: str = "url",
    rules: DataFrame | None = None,
    agent: str = "*",
) -> DataFrame:
    """The next crawl round's fetch list (r13 capstone): outlinks of
    the crawled batch — :func:`extract_links` resolved against each
    page's own URL — canonicalized, URL-deduped, with pages the crawl
    ALREADY HAS anti-joined away and (when a :func:`parse_robots` rule
    table is given) robots-disallowed candidates dropped. Returns one
    ``url`` column, distinct.

    Scale shape: extraction/resolution/canonicalization are map-side;
    the dedup is a distinct on the canonical string and the
    already-crawled check one url-keyed anti-join (both AQE-planned —
    at crawl scale the frontier and the crawled set hash-partition the
    same way, and text never crosses THOSE exchanges); the robots
    verdict adds one host equi-join against the bounded rule table. No
    UDF anywhere. As in :func:`link_host_edges`, a few-partition input
    is first fanned out by a work-aware round-robin pre-shuffle (full
    rows, payloads included) so the extraction parallelizes; at crawl
    scale the input already has more splits than cores and no
    pre-shuffle happens."""
    # spread the extraction (r14): the per-page extraction +
    # canonicalization dominate and run before the distinct's exchange
    df = spread(df)
    links = df.select(
        F.explode(extract_links(html_col, url_col)).alias("url")
    )
    links = links.select(
        canonicalize_url("url").alias("url")
    ).distinct()
    crawled = df.select(
        canonicalize_url(url_col).alias("url")
    ).distinct()
    out = links.join(crawled, "url", "left_anti")
    if rules is not None:
        out = (
            robots_allowed(out, rules, agent)
            .filter(F.col("allowed"))
            .drop("allowed")
        )
    return out


def parse_sitemap(
    df: DataFrame,
    xml_col: str = "payload",
    keep_cols: tuple = (),
) -> DataFrame:
    """Typed rows from raw ``sitemap.xml`` bodies (r13): one row per
    ``<url>``/``<sitemap>`` block — ``loc`` (required per the sitemap
    protocol; blocks without one drop), ``lastmod`` (NULL when
    absent) and ``is_index`` (true for ``<sitemapindex>`` bodies,
    whose locs are FURTHER sitemaps to fetch, not pages). The
    frontier's seed source next to :func:`extract_links`.

    Pure JVM: one split on block closers + a transform/filter chain —
    no UDF, no XML library (the sitemap protocol's subset is regular
    enough; CDATA and entity-escaped locs pass through unescaped for
    ``&amp;`` only, the one entity the protocol requires)."""
    x = (F.col(xml_col)).cast("string")
    # anchored on the ROOT element (after optional XML declaration /
    # comments) — a urlset merely CONTAINING the text '<sitemapindex'
    # must not flag as an index (r13 review fix)
    is_index = x.rlike(
        r"(?is)^\s*(?:<\?xml[^>]*>\s*)?(?:<!--.*?-->\s*)*<sitemapindex"
    )
    blocks = F.split(x, r"(?i)</url\s*>|</sitemap\s*>")

    def _loc(b):
        # CDATA form is literal (no entity unescape); plain form
        # unescapes the one entity the protocol requires
        cdata = F.regexp_extract(
            b, r"(?is)<loc\s*>\s*<!\[CDATA\[(.*?)\]\]>", 1
        )
        plain = F.replace(
            F.regexp_extract(b, r"(?is)<loc\s*>\s*([^<]*?)\s*</loc", 1),
            F.lit("&amp;"),
            F.lit("&"),
        )
        return F.when(cdata != F.lit(""), F.trim(cdata)).otherwise(plain)

    recs = F.transform(
        blocks,
        lambda b: F.struct(
            _loc(b).alias("loc"),
            F.nullif(
                F.regexp_extract(
                    b, r"(?is)<lastmod\s*>\s*([^<]*?)\s*</lastmod", 1
                ),
                F.lit(""),
            ).alias("lastmod"),
        ),
    )
    recs = F.filter(recs, lambda r: r["loc"] != F.lit(""))
    out = df.select(
        *keep_cols,
        is_index.alias("is_index"),
        F.explode(recs).alias("rec"),
    )
    return out.select(
        *keep_cols,
        F.col("rec.loc").alias("loc"),
        F.col("rec.lastmod").alias("lastmod"),
        "is_index",
    )


def canonical_target(html_col: Column | str) -> Column:
    """The ``<link rel="canonical" href=...>`` target of an HTML page
    (either attribute order), or NULL — the page's self-declared
    canonical URL, the dedup key :func:`dedup_by_canonical` groups
    on. Pure JVM (two anchored extracts + coalesce-on-empty)."""
    x = (
        html_col if isinstance(html_col, Column) else F.col(html_col)
    ).cast("string")
    # same boundary + paired-quote discipline as extract_links:
    # data-rel=/data-href= must not match, and an apostrophe inside a
    # double-quoted value must not truncate it (backreference — the
    # documented Java-only deviation; no oracle replays this regex)
    a = F.regexp_extract(
        x,
        r"(?is)<link\s(?:[^>]*?[\s'\"])?rel\s*=\s*(['\"])canonical\1"
        r"[^>]*?[\s'\"]href\s*=\s*(['\"])(.*?)\2",
        3,
    )
    # href-FIRST form: the value is bounded to [^<>] — with the
    # trailing rel constraint, an unbounded (.*?) value can backtrack
    # ACROSS the closing '>' and glue two link tags together (a
    # stylesheet link swallowing the canonical after it, r14 fix);
    # angle brackets inside an href are the rare loss
    b = F.regexp_extract(
        x,
        r"(?is)<link\s(?:[^>]*?[\s'\"])?href\s*=\s*(['\"])([^<>]*?)\1"
        r"[^>]*?[\s'\"]rel\s*=\s*(['\"])canonical\3",
        2,
    )
    hit = F.when(a != F.lit(""), a).otherwise(b)
    return F.nullif(F.trim(hit), F.lit(""))


def dedup_by_canonical(
    df: DataFrame,
    html_col: str = "payload",
    url_col: str = "url",
) -> DataFrame:
    """One surviving row per canonical URL (r13): pages declaring the
    same ``<link rel=canonical>`` target are refetch/variant copies of
    one document — keep a single representative, PREFERRING the page
    that IS its own canonical (the canonical capture itself), then the
    smallest URL, then a content digest of the full row for
    determinism (remaining ties are bit-identical rows, so the pick
    is deterministic either way). Pages with no canonical link group
    by their own canonicalized URL (plain URL-dedup semantics); rows
    whose key is NULL (NULL url, no declaration) each survive as
    their own content-keyed group — identical such rows collapse to
    one, consistent with the exact-duplicate contract.

    Scale shape: the canonical key is a map-side projection; the one
    shuffle is a ``min_by`` groupBy carrying (key, order-struct, row)
    — partial aggregation keeps one candidate row per key per input
    partition, so payloads cross the wire once per (partition, key),
    and there is NO join-back. The survivor key is pure row CONTENT
    (canonical target + full-row digest) — never
    ``monotonically_increasing_id``, whose positional ids can diverge
    between join branches / task retries after an upstream shuffle
    (the engine-wide discipline documented in membership.py; the r13
    two-branch ``__rid`` self-join was exactly that hazard, r14 fix)."""
    # the dedup key is the declared target RESOLVED against the page
    # URL (relative canonicals are the common real-world form — raw
    # grouping would collapse distinct documents across hosts) and
    # then CANONICALIZED (case/port/tracking noise must not split a
    # group); pages with no declaration key on their own canonical URL
    # spread the keyed projection (r14): the canonical-target extracts,
    # reference resolution, canonicalization and row digest are the
    # dominant per-row cost and run BEFORE the one shuffle
    from mongo_arrow_spark.operators.text import bind

    df = spread(df)
    # expression-tree discipline (r14): canonicalize_url references its
    # argument ~8 times, and feeding it the composed
    # resolve(canonical_target(payload)) tree inlined that regex-heavy
    # subtree at every reference — the single keyed projection grew to
    # a ~140 KB plan, past the whole-stage-codegen limit, and the whole
    # stage fell back to interpreted evaluation WITH the duplicated
    # subtrees actually re-executed. Two fixes: ``bind`` the composed
    # input so the heavy value is evaluated once inside the tree, and
    # stage the three heavy values (__k1c, __cu, __d) in their OWN
    # projection — each is referenced more than once downstream, which
    # is exactly the condition under which CollapseProject refuses to
    # re-inline them.
    target = _resolve_ref(canonical_target(html_col), F.col(url_col))
    canon = bind(
        F.coalesce(target, F.col(url_col)), lambda x: canonicalize_url(x)
    )
    row = F.struct(*[F.col(c) for c in df.columns])
    # deterministic content digest: the NULL-key group key and the
    # final ordering tiebreaker (to_json serializes every SQL type,
    # binary as base64 — rows that still tie are bit-identical)
    digest = F.md5(F.to_json(row))
    staged = df.select(
        row.alias("__row"),
        canon.alias("__k1c"),
        canonicalize_url(F.col(url_col)).alias("__cu"),
        digest.alias("__d"),
        F.col(url_col).alias("__u"),
    )
    order = F.struct(
        F.coalesce(
            (F.col("__cu") != F.col("__k1c")).cast("int"), F.lit(1)
        ).alias("not_self"),
        F.coalesce(F.col("__u").cast("string"), F.lit("")).alias("u"),
        F.col("__d").alias("d"),
    )
    keyed = staged.select(
        F.col("__k1c").alias("__k1"),
        # NULL-key rows get their own content-keyed group; a separate
        # key COLUMN (not a sentinel prefix on __k1) so no real URL
        # can ever collide with the synthetic key space
        F.when(F.col("__k1c").isNull(), F.col("__d"))
        .otherwise(F.lit(""))
        .alias("__k2"),
        order.alias("__ord"),
        F.col("__row"),
    )
    pick = keyed.groupBy("__k1", "__k2").agg(
        F.min_by("__row", "__ord").alias("__pick")
    )
    return pick.select("__pick.*")


def schedule_fetches(
    frontier: DataFrame,
    url_col: str = "url",
    per_wave: int = 8,
    rules: DataFrame | None = None,
    agent: str = "*",
    lastmod_col: str | None = None,
    host_col: str = "host",
    wave_col: str = "wave",
) -> DataFrame:
    """Politeness-scheduled fetch waves (r13; r14: Crawl-delay and
    freshness aware): at most ``per_wave`` URLs per HOST per wave —
    the frontier ordered deterministically within each host and cut
    into numbered waves; a fetcher drains wave 0 across all hosts,
    then wave 1, … so no host sees more than its budget of concurrent
    requests per round regardless of how skewed the frontier is
    toward one site.

    - ``rules``: a :func:`parse_robots` table. Each host's
      ``crawl_delay`` (the chosen group's, EXACT ``agent`` overriding
      ``*`` — the same precedence :func:`robots_allowed` applies)
      shrinks its wave budget to ``max(1, floor(per_wave / delay))``
      URLs: one wave is one politeness interval, so a host asking for
      a d-second gap gets proportionally fewer fetches per wave.
      Hosts declaring no delay keep ``per_wave``.
    - ``lastmod_col``: when given (sitemap ``lastmod`` recency, via
      :func:`parse_sitemap`), fresher URLs schedule into EARLIER
      waves — within-host order is (lastmod DESC NULLS LAST, url)
      instead of plain url.
    - ``host_col`` / ``wave_col``: output column names; raises when
      either already exists in the input (silent overwrite would
      corrupt caller data — the r13 hardcoded names did exactly
      that).

    One window per host (rank within host — the per-host frontier is
    the bounded dimension; no global sort) plus, with ``rules``, one
    equi-join against the bounded per-host delay table (AQE
    broadcasts it); wave arithmetic stays map-side."""
    from pyspark.sql import Window

    for c in (host_col, wave_col):
        if c in frontier.columns:
            raise ValueError(
                f"schedule_fetches: output column {c!r} already exists in "
                "the frontier — pass host_col=/wave_col= to pick free names"
            )
    out = frontier.withColumn(host_col, url_host(url_col))
    order = (
        [F.col(lastmod_col).desc_nulls_last(), F.col(url_col)]
        if lastmod_col is not None
        else [F.col(url_col)]
    )
    w = Window.partitionBy(host_col).orderBy(*order)
    rank0 = F.row_number().over(w) - 1
    if rules is None:
        wave = F.floor(rank0 / int(per_wave))
    else:
        if "crawl_delay" not in rules.columns:
            raise ValueError(
                "schedule_fetches: rules= frame has no crawl_delay column "
                "— pass a parse_robots() table"
            )
        a = agent.lower()
        ag = F.lower(F.col("agent"))
        # group-exclusion precedence, same as robots_allowed: when a
        # specific-agent group EXISTS for a host, the * group is
        # ignored entirely — including its delay (a specific group
        # with no Crawl-delay means "no delay", not "inherit *'s")
        delays = (
            rules.filter(ag.isin(a, "*"))
            .groupBy(F.lower(F.col("host")).alias("__sf_host"))
            .agg(
                F.max(
                    F.when(ag == a, F.col("crawl_delay"))
                ).alias("__d_specific"),
                F.max(
                    F.when(ag == "*", F.col("crawl_delay"))
                ).alias("__d_wild"),
                F.max((ag == a).cast("int")).alias("__has_specific"),
            )
            .select(
                "__sf_host",
                F.when(
                    F.col("__has_specific") == 1, F.col("__d_specific")
                )
                .otherwise(F.col("__d_wild"))
                .alias("__sf_delay"),
            )
        )
        out = out.join(
            delays, out[host_col] == delays["__sf_host"], "left"
        ).drop("__sf_host")
        budget = F.when(
            F.col("__sf_delay").isNotNull(),
            F.greatest(
                F.lit(1),
                F.floor(
                    int(per_wave) / F.greatest(F.col("__sf_delay"), F.lit(1.0))
                ),
            ),
        ).otherwise(F.lit(int(per_wave)))
        wave = F.floor(rank0 / budget)
    return out.withColumn(wave_col, wave.cast("bigint")).drop("__sf_delay")
