"""URL tier: canonicalization cases, host / registered-domain
extraction, URL-dedup and per-domain caps, and the plan contracts
(map-only expressions, no UDF; cap keeps the partial
WindowGroupLimit)."""

import pytest
from pyspark.sql import functions as F

from mongo_arrow_spark.operators import url as U

from conftest import SF_DIR  # noqa: F401  (spark fixture wiring)


def _canon(spark, raw, **kw):
    df = spark.createDataFrame([(raw,)], "u string")
    return df.select(U.canonicalize_url("u", **kw).alias("c")).first()["c"]


CASES = [
    # scheme+host lowercase, default port, fragment, tracking, sort
    (
        "HTTP://WWW.Example.COM:80/A/b/?b=2&utm_source=x&a=1#frag",
        "http://www.example.com/A/b?a=1&b=2",
    ),
    # https default port + userinfo + trailing slash collapse
    (
        "https://user:pw@Example.com:443/docs/",
        "https://example.com/docs",
    ),
    # non-default port kept; empty path becomes /
    ("https://example.com:8443", "https://example.com:8443/"),
    # empty params drop; non-tracking order normalized
    ("http://a.com/p?z=1&&y=2&", "http://a.com/p?y=2&z=1"),
    # all params tracking -> no ? at all
    ("http://a.com/p?utm_medium=m&gclid=g", "http://a.com/p"),
    # tracking keys match case-insensitively (case-variant refetch URLs
    # must collapse to the same canonical form)
    ("http://a.com/p?UTM_Source=x&FBCLID=f&a=1", "http://a.com/p?a=1"),
    # root path: slash stays
    ("http://a.com/", "http://a.com/"),
    ("http://a.com", "http://a.com/"),
    # non-URL passes through trimmed, untouched
    ("  /relative/path?x=1  ", "/relative/path?x=1"),
    ("not a url", "not a url"),
]


@pytest.mark.parametrize("raw,want", CASES)
def test_canonicalize_cases(spark, raw, want):
    assert _canon(spark, raw) == want


def test_canonicalize_options(spark):
    assert (
        _canon(spark, "http://www.a.com/x", strip_www=True)
        == "http://a.com/x"
    )
    assert (
        _canon(spark, "http://a.com/p?b=2&a=1", sort_query=False)
        == "http://a.com/p?b=2&a=1"
    )
    assert (
        _canon(spark, "http://a.com/p?utm_source=x&a=1", strip_tracking=False)
        == "http://a.com/p?a=1&utm_source=x"
    )
    # NULL stays NULL
    df = spark.createDataFrame([(None,)], "u string")
    assert df.select(U.canonicalize_url("u").alias("c")).first()["c"] is None


def test_url_host(spark):
    df = spark.createDataFrame(
        [
            ("https://user@News.BBC.co.UK:8080/x",),
            ("http://1.2.3.4:80/",),
            ("/relative",),
        ],
        "u string",
    )
    got = [r["h"] for r in df.select(U.url_host("u").alias("h")).collect()]
    assert got == ["news.bbc.co.uk", "1.2.3.4", ""]


@pytest.mark.parametrize(
    "host,want",
    [
        ("news.bbc.co.uk", "bbc.co.uk"),
        ("bbc.co.uk", "bbc.co.uk"),
        ("co.uk", "co.uk"),  # the bare suffix is not a registered domain
        ("a.b.example.com", "example.com"),
        ("example.com", "example.com"),
        ("localhost", "localhost"),
        ("deep.shop.example.com.au", "example.com.au"),
        ("1.2.3.4", "1.2.3.4"),  # IPv4 literal passes through
        ("", ""),
    ],
)
def test_registered_domain(spark, host, want):
    df = spark.createDataFrame([(host,)], "h string")
    assert (
        df.select(U.registered_domain("h").alias("d")).first()["d"] == want
    )


def test_registered_domain_custom_suffixes(spark):
    df = spark.createDataFrame([("x.y.internal.corp",)], "h string")
    got = df.select(
        U.registered_domain("h", suffixes=["internal.corp"]).alias("d")
    ).first()["d"]
    assert got == "y.internal.corp"


def test_url_dedup_collapses_variants(spark):
    rows = [
        (1, "HTTP://Example.com:80/a?utm_source=x&b=2&a=1"),
        (2, "http://example.com/a/?a=1&b=2"),  # same canonical as 1
        (3, "http://example.com/b"),
        (4, "http://example.com/b#frag"),  # same canonical as 3
        (5, "https://example.com/b"),  # scheme differs: distinct
        # NULL ids never survive: 5 wins its pair, a lone NULL id drops
        (None, "https://example.com/b#x"),
        (None, "https://example.com/alone"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    kept = sorted(
        r["doc_id"] for r in U.url_dedup(df, "url").collect()
    )
    assert kept == [1, 3, 5]


def test_cap_per_domain(spark):
    rows = [
        (i, f"https://sub{i % 4}.brand{i % 2}.co.uk/p/{i}")
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    kept = U.cap_per_domain(df, "url", n=3)
    assert kept.count() == 6  # 2 registered domains x 3
    # deterministic: min doc_ids survive per domain
    got = sorted(r["doc_id"] for r in kept.collect())
    assert got == [0, 1, 2, 3, 4, 5]
    # original columns intact, no helper column leaks
    assert kept.columns == ["doc_id", "url"]


def test_canonicalize_is_udf_free_map_only(spark):
    df = spark.createDataFrame([(1, "http://a.com/x")], "id long, url string")
    plan = (
        df.select(U.canonicalize_url("url"), U.registered_domain(U.url_host("url")))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan and "Python" not in plan
    assert "BatchEvalPython" not in plan


def test_cap_per_domain_keeps_partial_window_group_limit(spark):
    df = spark.createDataFrame(
        [(i, f"https://h{i % 3}.com/{i}") for i in range(30)],
        "doc_id long, url string",
    )
    plan = (
        U.cap_per_domain(df, "url", n=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_url_bloom_gate_composition(spark):
    """The incremental URL-dedup ingest gate is a composition: a
    standing Bloom over CANONICAL urls, probed with the canonical form
    of each arriving batch — messy refetches of known pages are
    dropped without any payload comparison."""
    from mongo_arrow_spark.operators import membership as M

    standing = spark.createDataFrame(
        [(i, f"https://site.com/p/{i}") for i in range(50)],
        "doc_id long, url string",
    ).withColumn("canon", U.canonicalize_url(F.col("url")))
    idx = M.build_bloom_index(standing, "canon", num_bits=1 << 16)
    batch = spark.createDataFrame(
        [
            (100, "HTTPS://Site.COM:443/p/7?utm_source=x"),  # refetch
            (101, "https://site.com/p/9/"),  # refetch (trailing slash)
            (102, "https://site.com/p/999"),  # genuinely new
        ],
        "doc_id long, url string",
    ).withColumn("canon", U.canonicalize_url(F.col("url")))
    probed = M.probe_bloom(batch, idx, "canon", num_bits=1 << 16)
    fresh = sorted(
        r["doc_id"]
        for r in probed.filter(~F.col("maybe_member")).collect()
    )
    assert fresh == [102]


# ------------------------- differential fuzz: Spark chain vs Python mirror


def _py_canon(u, strip_tracking=True, sort_query=True, strip_www=False):
    """Independent Python mirror of canonicalize_url — NOT a port of
    the Column chain but a re-derivation from its documented rules, so
    a regex-semantics slip on either side shows up as a mismatch."""
    import re

    u = u.strip()
    m = re.match(r"([A-Za-z][A-Za-z0-9+.-]*)://", u)
    if not m:
        return u
    scheme = m.group(1).lower()
    rest = u[m.end():]
    am = re.match(r"[^/?#]*", rest)
    auth = am.group(0)
    after = rest[am.end():]
    host = re.sub(r"^[^@]*@", "", auth)
    pm = re.search(r":([0-9]+)$", host)
    port = pm.group(1) if pm else ""
    host = re.sub(r":[0-9]*$", "", host).lower()
    if strip_www:
        host = re.sub(r"^www\.", "", host)
    keep_port = port != "" and not (
        (scheme == "http" and port == "80")
        or (scheme == "https" and port == "443")
    )
    hostport = f"{host}:{port}" if keep_port else host
    path_m = re.match(r"[^?#]*", after)
    path = path_m.group(0)
    path = re.sub(r"/+$", "", path) or "/"
    # the fragment starts at the FIRST '#'; a '?' after it is part of
    # the fragment, not a query (the Spark chain anchors its query
    # regex with [^#?]*\? for the same reason)
    qm = re.search(r"\?([^#]*)", after.split("#", 1)[0])
    q = qm.group(1) if qm else ""
    parts = [p for p in q.split("&") if p != ""]
    if strip_tracking:
        tr = re.compile(
            r"^(utm_[A-Za-z0-9_]*|gclid|gclsrc|dclid|fbclid|msclkid"
            r"|igshid|mc_cid|mc_eid|mkt_tok|yclid|_ga|_gl|spm|ref_src)"
            r"(=.*)?$",
            re.IGNORECASE,
        )
        parts = [p for p in parts if not tr.match(p)]
    if sort_query:
        parts = sorted(parts)
    qs = "&".join(parts)
    return f"{scheme}://{hostport}{path}" + (f"?{qs}" if qs else "")


def test_canonicalize_differential_fuzz(spark):
    import itertools
    import random

    rng = random.Random(1106)
    schemes = ["http", "HTTP", "https", "HtTpS", "ftp"]
    hosts = [
        "Example.COM", "www.Site.org", "a.b.C.co.uk", "1.2.3.4",
        "xn--bcher-kva.de", "host_with_underscore.net",
    ]
    ports = ["", ":80", ":443", ":8080", ":0443", ":"]
    userinfos = ["", "u@", "user:p@ss@"]
    paths = ["", "/", "/A/b", "/a//b///", "/a/b/", "/%7Euser/x"]
    params = [
        "a=1", "B=2", "utm_source=x", "gclid=zzz", "", "z", "a=1=2",
        "ref_src=t", "utm_=e", "key=v&broken",
        "UTM_SOURCE=x", "FBclid=zzz", "Utm_Medium=m",
    ]
    frags = ["", "#f", "#a?b=1", "#"]
    cases = []
    for _ in range(300):
        q = "&".join(rng.sample(params, rng.randint(0, 4)))
        cases.append(
            rng.choice(schemes)
            + "://"
            + rng.choice(userinfos)
            + rng.choice(hosts)
            + rng.choice(ports)
            + rng.choice(paths)
            + (("?" + q) if q or rng.random() < 0.2 else "")
            + rng.choice(frags)
        )
    cases += ["not a url", "  spaced  ", "", "relative/path?a=1#x",
              "://nohost", "h\ttab://x.com/a"]
    for flags in itertools.product([True, False], repeat=3):
        st, sq, sw = flags
        df = spark.createDataFrame([(c,) for c in cases], "u string")
        got = [
            r["c"]
            for r in df.select(
                U.canonicalize_url(
                    "u", strip_tracking=st, sort_query=sq, strip_www=sw
                ).alias("c")
            ).collect()
        ]
        for raw, g in zip(cases, got):
            want = _py_canon(
                raw, strip_tracking=st, sort_query=sq, strip_www=sw
            )
            assert g == want, (
                f"mismatch flags={flags} raw={raw!r}: spark={g!r} "
                f"python={want!r}"
            )


def test_nested_suffix_longest_wins(spark):
    """PSL 'most specific rule wins': with both ak.us and k12.ak.us
    listed, a k12 school district resolves to the LONGER suffix (the
    r11 precedence fix — the CASE chain used to check the shortest
    class first)."""
    sfx = ["ak.us", "k12.ak.us"]
    df = spark.createDataFrame(
        [("south.k12.ak.us",), ("city.ak.us",), ("x.south.k12.ak.us",)],
        "h string",
    )
    got = [
        r["d"]
        for r in df.select(
            U.registered_domain("h", suffixes=sfx).alias("d")
        ).collect()
    ]
    assert got == ["south.k12.ak.us", "city.ak.us", "south.k12.ak.us"]


def test_psl_wildcard_and_exception_rules(spark):
    """Full PSL semantics through parse_public_suffix_list: *.ck makes
    every direct child of ck a public suffix; !www.ck carves www.ck
    back out as registrable (the canonical PSL example)."""
    dat = """
// ck : https://en.wikipedia.org/wiki/.ck
*.ck
!www.ck
// plain rules
com
co.uk
"""
    rules = U.parse_public_suffix_list(dat)
    assert rules == {
        "exact": ["com", "co.uk"],
        "wildcard": ["ck"],
        "exception": ["www.ck"],
    }
    cases = [
        ("foo.b.ck", "foo.b.ck"),  # suffix b.ck -> registrable is itself
        ("x.foo.b.ck", "foo.b.ck"),
        ("b.ck", "b.ck"),  # the suffix alone: passthrough
        ("www.ck", "www.ck"),  # exception: registrable
        ("sub.www.ck", "www.ck"),  # under the exception
        ("a.b.example.com", "example.com"),
        ("news.bbc.co.uk", "bbc.co.uk"),
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "h string")
    got = [
        r["d"]
        for r in df.select(
            U.registered_domain("h", rules=rules).alias("d")
        ).collect()
    ]
    assert got == [w for _, w in cases]


def test_url_word_score_and_filter(spark):
    from mongo_arrow_spark.operators.url import (
        filter_urls,
        url_word_score,
    )

    rows = [
        (0, "https://news.site.org/article/1"),            # clean
        (1, "https://www.essex.ac.uk/sexton-bells"),       # 2 soft hits of 'sex' ... substring appears twice but scored once
        (2, "https://free-iphone.win/casino-poker"),       # 1.5+1.5+1.0 trips
        (3, "https://xxx.example.com/v"),                  # 2.0 trips (>= max)
        (4, None),
        (5, "https://blocked.example.org/x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    scores = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", url_word_score("url").alias("s")
        ).collect()
    }
    assert scores[0] == 0.0
    assert scores[1] == 1.0  # 'sex' counted once regardless of repeats
    assert scores[2] == pytest.approx(4.0)  # free-iphone + casino + poker
    assert scores[3] == 2.0
    assert scores[4] is None  # NULL url -> NULL score (and filter_urls drops it)
    kept = sorted(
        r["doc_id"]
        for r in filter_urls(
            df.filter(F.col("url").isNotNull()),
            block_domains=["blocked.example.org"],
        ).collect()
    )
    # strict <2.0: the single ambiguous 'sex' hit survives, xxx trips,
    # the accumulated junk trips, the blocklisted domain drops
    assert kept == [0, 1]
    # a listed domain blocks its subdomains too; unrelated lookalike
    # suffixes survive ('notexample.org' is NOT under 'example.org')
    sub = spark.createDataFrame(
        [
            (10, "https://a.b.evil.org/x"),
            (11, "https://evil.org/x"),
            (12, "https://notevil.org/x"),
            (13, "https://evil.org.safe.com/x"),
        ],
        "doc_id long, url string",
    )
    kept2 = sorted(
        r["doc_id"]
        for r in filter_urls(sub, block_domains=["evil.org"]).collect()
    )
    assert kept2 == [12, 13]


def test_filter_urls_is_map_only(spark):
    from mongo_arrow_spark.operators.url import filter_urls

    df = spark.createDataFrame([(1, "https://a.org/x")], "doc_id long, url string")
    out = filter_urls(df, block_domains=["b.org"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


# ------------------------------------------------------------ r13: links


def test_extract_links_resolution_classes(spark):
    """Every resolution class against a ported base: absolute,
    protocol-relative, root-relative, document-relative, ../, plus the
    pseudo-link drops (mailto/javascript/tel/data/fragment-only) and
    the single-quote attribute form."""
    from mongo_arrow_spark.operators.url import extract_links

    html = (
        '<a href="https://ext.org/a/1">a</a>'
        "<a href='//cdn.example.net/lib.js'>b</a>"
        '<a href="/r/9">c</a><a href="sub/p.html">d</a>'
        '<a href="../up/3">e</a><a href="deep/a/../b.html#x">f</a>'
        '<a href="mailto:x@y">g</a><a href="javascript:void(0)">h</a>'
        '<a href="tel:+1">i</a><a href="data:text/plain,x">j</a>'
        '<a href="#frag">k</a><a href="">l</a>'
    )
    df = spark.createDataFrame(
        [(1, html, "https://host1.example.com:8080/sec2/page1.html")],
        "id long, payload string, url string",
    )
    got = df.select(extract_links("payload", "url").alias("l")).first()["l"]
    assert got == [
        "https://ext.org/a/1",
        "https://cdn.example.net/lib.js",
        "https://host1.example.com:8080/r/9",
        "https://host1.example.com:8080/sec2/sub/p.html",
        "https://host1.example.com:8080/up/3",
        "https://host1.example.com:8080/sec2/deep/b.html",
    ]


def test_extract_links_no_base_null_and_empty(spark):
    """Without a base column only absolute links survive; NULL html
    stays NULL; a page with no links yields an empty array; deep ../
    chains past max_dotdot keep their residue (documented bound)."""
    from mongo_arrow_spark.operators.url import extract_links

    html = '<a href="https://a.org/x">a</a><a href="rel/y">b</a>'
    df = spark.createDataFrame(
        [(1, html), (2, None), (3, "<p>none</p>")],
        "id long, payload string",
    )
    got = {
        r["id"]: r["l"]
        for r in df.select(
            "id", extract_links("payload").alias("l")
        ).collect()
    }
    assert got[1] == ["https://a.org/x"]
    assert got[2] is None
    assert got[3] == []
    deep = spark.createDataFrame(
        [(1, '<a href="../../../../../x">d</a>', "https://h/a/b/c/p.html")],
        "id long, payload string, url string",
    )
    (link,) = deep.select(
        extract_links("payload", "url", max_dotdot=4).alias("l")
    ).first()["l"]
    assert link.startswith("https://h/") and link.endswith("/x")


def test_extract_links_and_edges_udf_free(spark):
    from mongo_arrow_spark.operators.url import (
        extract_links,
        link_host_edges,
    )

    df = spark.createDataFrame(
        [(1, '<a href="/x">a</a>', "https://h.org/p")],
        "id long, payload string, url string",
    )
    for out in (
        df.select(extract_links("payload", "url")),
        link_host_edges(df, "payload", "url"),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_link_host_edges_counts_and_empty_hosts(spark):
    """Edge weights aggregate per (src, dst); rows whose base has no
    host (relative-only corpus slice) and links that resolve hostless
    drop out instead of producing '' nodes."""
    from mongo_arrow_spark.operators.url import link_host_edges

    rows = [
        (1, '<a href="https://b.org/1">x</a><a href="https://b.org/2">y</a>',
         "https://a.org/p"),
        (2, '<a href="/local">x</a>', "https://a.org/q"),
        (3, '<a href="https://b.org/3">x</a>', "relative-base-no-host"),
    ]
    df = spark.createDataFrame(rows, "id long, payload string, url string")
    got = {
        (r["src_host"], r["dst_host"]): r["n_links"]
        for r in link_host_edges(df, "payload", "url").collect()
    }
    assert got == {("a.org", "b.org"): 2, ("a.org", "a.org"): 1}


# ------------------------------------------------------------ r13: robots


def test_parse_robots_groups_and_noise(spark):
    """Group parsing: consecutive User-agent lines share a group;
    comments/blank lines/unknown keys skip; directives before any
    user-agent line drop; empty Disallow (allow-all) rows drop; agent
    names fold case, prefixes stay case-sensitive; Crawl-delay (r14)
    attaches to every row of its group, NULL elsewhere."""
    from mongo_arrow_spark.operators.url import parse_robots

    body = (
        "# politeness\n"
        "Disallow: /orphan/\n"          # before any UA group: dropped
        "User-agent: A\n"
        "User-agent: B\n"
        "Disallow: /Shared/\n"
        "Crawl-delay: 10\n"             # r14: consumed, per-group
        "\n"
        "User-agent: *\n"
        "Allow: /ok\n"
        "Disallow:\n"                    # empty prefix: dropped
    )
    df = spark.createDataFrame([("h", body)], "host string, robots_txt string")
    got = sorted(
        (r["agent"], r["rule_allow"], r["prefix"], r["crawl_delay"])
        for r in parse_robots(df).collect()
    )
    assert got == [
        ("*", True, "/ok", None),
        ("a", False, "/Shared/", 10.0),
        ("b", False, "/Shared/", 10.0),
    ]


def test_robots_allowed_semantics_matrix(spark):
    """Verdict semantics: specific agent group overrides * entirely;
    longest prefix wins; Allow wins length ties; hostless or
    rule-less hosts default to allowed; NULL robots == empty."""
    from mongo_arrow_spark.operators.url import parse_robots, robots_allowed

    robots = spark.createDataFrame(
        [
            ("h0", "User-agent: *\nDisallow: /p/\nAllow: /p/ok"),
            ("h1", "User-agent: mybot\nDisallow: /\n\n"
                   "User-agent: *\nDisallow:"),
            ("h2", "User-agent: other\nDisallow: /\n\n"
                   "User-agent: *\nDisallow: /tmp/"),
            ("h3", None),
            # length tie between Allow and Disallow: Allow wins
            ("h4", "User-agent: *\nDisallow: /x/\nAllow: /x/"),
        ],
        "host string, robots_txt string",
    )
    rules = parse_robots(robots)
    urls = spark.createDataFrame(
        [
            ("https://h0/p/ok/1",), ("https://h0/p/no",), ("https://h0/q",),
            ("https://h1/anything",),
            ("https://h2/tmp/x",), ("https://h2/q",),
            ("https://h3/q",),
            ("https://h4/x/y",),
            ("https://unlisted.example/q",),
        ],
        "url string",
    )
    got = {
        r["url"]: r["allowed"]
        for r in robots_allowed(urls, rules, "MyBot").collect()
    }
    assert got == {
        "https://h0/p/ok/1": True,
        "https://h0/p/no": False,
        "https://h0/q": True,
        "https://h1/anything": False,
        "https://h2/tmp/x": False,
        "https://h2/q": True,
        "https://h3/q": True,
        "https://h4/x/y": True,
        "https://unlisted.example/q": True,
    }


def test_robots_allowed_udf_free_and_query_path(spark):
    """The whole gate is JVM-side (no Python eval), and the matched
    prefix applies to the full path+query (Disallow: /s?q blocks the
    query form)."""
    from mongo_arrow_spark.operators.url import parse_robots, robots_allowed

    robots = spark.createDataFrame(
        [("h", "User-agent: *\nDisallow: /s?q=")],
        "host string, robots_txt string",
    )
    urls = spark.createDataFrame(
        [("https://h/s?q=1",), ("https://h/s",)], "url string"
    )
    out = robots_allowed(urls, parse_robots(robots), "bot")
    got = {r["url"]: r["allowed"] for r in out.collect()}
    assert got == {"https://h/s?q=1": False, "https://h/s": True}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ------------------------------------------------- r13 self-review fixes


def test_extract_links_attribute_boundary_and_quote_pairing(spark):
    """r13 review fixes: data-href/ng-href must NOT match (boundary
    before href), and a double-quoted value containing an apostrophe
    extracts whole (paired quotes via backreference)."""
    from mongo_arrow_spark.operators.url import extract_links

    html = (
        '<a class="c" data-href="/track">x</a>'
        '<a ng-href="/ng">y</a>'
        '<a href="/it\'s-a-page">z</a>'
        "<a href='/say-\"hi\"'>w</a>"
        '<a href="/plain">p</a>'
    )
    df = spark.createDataFrame(
        [(1, html, "https://h.org/p")], "id long, payload string, url string"
    )
    got = df.select(extract_links("payload", "url").alias("l")).first()["l"]
    assert got == [
        "https://h.org/it's-a-page",
        'https://h.org/say-"hi"',
        "https://h.org/plain",
    ]


def test_parse_robots_ruleless_group_preserves_precedence(spark):
    """r13 review fix: a specific-agent group whose only directive is
    an empty Disallow (allow-all) must still override a blocking *
    group — group existence survives as a NULL-prefix row."""
    from mongo_arrow_spark.operators.url import parse_robots, robots_allowed

    robots = spark.createDataFrame(
        [("h", "User-agent: mybot\nDisallow:\n\nUser-agent: *\nDisallow: /")],
        "host string, robots_txt string",
    )
    rules = parse_robots(robots)
    urls = spark.createDataFrame(
        [("https://h/anything",), ("https://h/",)], "url string"
    )
    got = {
        r["url"]: r["allowed"]
        for r in robots_allowed(urls, rules, "MyBot").collect()
    }
    assert got == {"https://h/anything": True, "https://h/": True}
    # and the * group still blocks everyone else
    other = {
        r["url"]: r["allowed"]
        for r in robots_allowed(urls, rules, "elsebot").collect()
    }
    assert other == {"https://h/anything": False, "https://h/": False}


def test_robots_allowed_preserves_duplicates_and_host_case(spark):
    """r13 review fixes: duplicate input rows survive the verdict
    aggregation (cardinality preserved), and a mixed-case host in the
    rule table still matches the lowercased URL host."""
    from mongo_arrow_spark.operators.url import parse_robots, robots_allowed

    robots = spark.createDataFrame(
        [("Example.COM", "User-agent: *\nDisallow: /no/")],
        "host string, robots_txt string",
    )
    rules = parse_robots(robots)
    urls = spark.createDataFrame(
        [("https://example.com/no/x",)] * 2 + [("https://EXAMPLE.com/ok",)],
        "url string",
    )
    out = robots_allowed(urls, rules, "bot").collect()
    assert len(out) == 3  # duplicates preserved
    verdicts = sorted((r["url"], r["allowed"]) for r in out)
    assert verdicts == [
        ("https://EXAMPLE.com/ok", True),
        ("https://example.com/no/x", False),
        ("https://example.com/no/x", False),
    ]


def test_robots_allowed_reserved_columns(spark):
    """r13 review fix: an input frame carrying columns named prefix/
    agent/rule_allow must not make the rule join ambiguous."""
    from mongo_arrow_spark.operators.url import parse_robots, robots_allowed

    robots = spark.createDataFrame(
        [("h", "User-agent: *\nDisallow: /no/")],
        "host string, robots_txt string",
    )
    urls = spark.createDataFrame(
        [("https://h/no/x", "P", "A", True)],
        "url string, prefix string, agent string, rule_allow boolean",
    )
    row = robots_allowed(urls, parse_robots(robots), "bot").first()
    assert row["allowed"] is False
    assert (row["prefix"], row["agent"], row["rule_allow"]) == ("P", "A", True)


def test_crawl_frontier_composition(spark):
    """Frontier semantics end-to-end: canonical dedup collapses messy
    refetch variants, already-crawled targets anti-join away, robots
    rules drop disallowed hosts, and the result is one distinct url
    column with no Python eval in the plan."""
    from mongo_arrow_spark.operators.url import crawl_frontier, parse_robots

    pages = spark.createDataFrame(
        [
            (
                '<a href="https://b.org/x?utm_source=t&k=1">1</a>'
                '<a href="HTTPS://B.org/x/?k=1">dup</a>'
                '<a href="/self2">s</a>'
                '<a href="https://blocked.net/a/1">r</a>',
                "https://a.org/self1",
            ),
            ('<a href="https://a.org/self1">back</a>', "https://a.org/self2"),
        ],
        "payload string, url string",
    )
    rules = parse_robots(
        spark.createDataFrame(
            [("blocked.net", "User-agent: *\nDisallow: /")],
            "host string, robots_txt string",
        )
    )
    out = crawl_frontier(pages, "payload", "url", rules=rules, agent="bot")
    got = sorted(r["url"] for r in out.collect())
    # the two messy b.org variants collapse to ONE canonical url;
    # /self1 and /self2 are already crawled; blocked.net drops
    assert got == ["https://b.org/x?k=1"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_extract_links_resolution_differential_vs_urljoin(spark):
    """Differential oracle: within the documented envelope (plain path
    references, ≤ max_dotdot parent hops, root-/protocol-relative,
    absolute, query-only), extract_links' resolution must agree with
    the stdlib reference resolver (urllib.parse.urljoin, RFC 3986)
    on every (base, ref) combination."""
    from urllib.parse import urljoin

    from mongo_arrow_spark.operators.url import extract_links

    bases = [
        "https://h.example.com/a/b/page.html",
        "https://h.example.com/",
        "https://h.example.com/a/",
        "http://h2.example.com:8080/x/y/z.html",
    ]
    refs = [
        "x", "x/y.html", "./x", "../x", "../../x", "../../../x",
        "/r", "/r/s?q=1", "//cdn.net/l", "https://abs.org/q",
        "x/./y", "a/../b", "?q=1", "x?q=1&b=2", "sub/",
        "../up/./d/../e",
    ]
    rows = [
        (b, r, f'<a href="{r}">x</a>') for b in bases for r in refs
    ]
    df = spark.createDataFrame(rows, "url string, ref string, payload string")
    out = df.select(
        "url", "ref", extract_links("payload", "url").alias("l")
    ).collect()
    diffs = [
        (row["url"], row["ref"], row["l"], urljoin(row["url"], row["ref"]))
        for row in out
        if (row["l"][0] if row["l"] else None)
        != urljoin(row["url"], row["ref"])
    ]
    assert not diffs, diffs


# -------------------------------------------- r13 second wave: crawl ops


def test_parse_sitemap_blocks_and_noise(spark):
    """urlset vs sitemapindex, lastmod optional, loc-less blocks drop,
    whitespace trimmed, &amp; unescaped, NULL body yields nothing."""
    from mongo_arrow_spark.operators.url import parse_sitemap

    rows = [
        (1, "<?xml version='1.0'?><urlset>"
            "<url><loc> https://a/1 </loc><lastmod>2026-01-02</lastmod></url>"
            "<url><loc>https://a/2?x=1&amp;y=2</loc></url>"
            "<url><priority>0.5</priority></url></urlset>"),
        (2, "<sitemapindex><sitemap><loc>https://a/s1.xml</loc></sitemap>"
            "</sitemapindex>"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload string")
    got = sorted(
        tuple(r)
        for r in parse_sitemap(df, keep_cols=("doc_id",)).collect()
    )
    assert got == [
        (1, "https://a/1", "2026-01-02", False),
        (1, "https://a/2?x=1&y=2", None, False),
        (2, "https://a/s1.xml", None, True),
    ]


def test_canonical_target_and_dedup(spark):
    """Both attribute orders extract; self-canonical wins over a
    variant; canonical-less pages group by their own canonical URL
    (so messy refetch variants of a linkless page also collapse);
    smallest URL breaks ties when no self-canonical row exists."""
    from mongo_arrow_spark.operators.url import (
        canonical_target,
        dedup_by_canonical,
    )

    rows = [
        ("https://a/page?utm_source=x",
         '<link rel="canonical" href="https://a/page">'),
        ("https://a/page", '<link href="https://a/page" rel="canonical">'),
        # no self-canonical row in this group: min url wins
        ("https://a/v2?b=1", '<link rel="canonical" href="https://a/v">'),
        ("https://a/v1?b=1", '<link rel="canonical" href="https://a/v">'),
        # linkless variants collapse via canonicalize_url
        ("https://a/plain?utm_source=t", "<p>x</p>"),
        ("https://a/plain", "<p>x</p>"),
    ]
    df = spark.createDataFrame(rows, "url string, payload string")
    got = sorted(r["url"] for r in dedup_by_canonical(df).collect())
    assert got == ["https://a/page", "https://a/plain", "https://a/v1?b=1"]
    one = df.limit(1).select(canonical_target("payload").alias("c")).first()
    assert one["c"] == "https://a/page"


def test_schedule_fetches_waves_and_skew(spark):
    """Wave cut: a 5-url host at per_wave=2 spans waves 0,0,1,1,2 —
    and a skewed frontier (one giant host) never puts more than
    per_wave urls of that host in one wave."""
    from mongo_arrow_spark.operators.url import schedule_fetches

    f = spark.createDataFrame(
        [(f"https://big.example/u{i:02d}",) for i in range(5)]
        + [("https://small.example/only",)],
        "url string",
    )
    out = schedule_fetches(f, per_wave=2).collect()
    waves = sorted(
        (r["host"], r["wave"], r["url"]) for r in out
    )
    assert [w for h, w, _ in waves if h == "big.example"] == [0, 0, 1, 1, 2]
    assert [w for h, w, _ in waves if h == "small.example"] == [0]
    import collections

    per = collections.Counter(
        (r["host"], r["wave"]) for r in out
    )
    assert max(per.values()) <= 2


def test_canonical_dedup_resolved_and_hardened(spark):
    """r13 second self-review fixes: (a) a RELATIVE canonical resolves
    against its own page URL — two hosts declaring href=\"/article/1\"
    stay distinct documents; (b) trivially-different absolute targets
    (case, tracking params) land in one group via canonicalization;
    (c) data-rel= does not read as a canonical; (d) an apostrophe
    inside a double-quoted target does not truncate it; (e) exact
    duplicate rows collapse to one; (f) NULL-url linkless rows survive
    as their own group."""
    from mongo_arrow_spark.operators.url import (
        canonical_target,
        dedup_by_canonical,
    )

    rows = [
        # relative canonical: one group PER HOST
        ("https://a.com/article/1?ref=x",
         '<link rel="canonical" href="/article/1">'),
        ("https://b.com/article/1?ref=x",
         '<link rel="canonical" href="/article/1">'),
        # case/tracking-variant absolute target joins the same group
        ("https://a.com/article/1",
         '<link rel="canonical" href="HTTPS://a.com/article/1?utm_source=f">'),
        # exact duplicate rows -> one survivor
        ("https://c.com/dup", "<p>x</p>"),
        ("https://c.com/dup", "<p>x</p>"),
        # NULL url, no canonical -> must survive
        (None, "<p>orphan</p>"),
    ]
    df = spark.createDataFrame(rows, "url string, payload string")
    out = dedup_by_canonical(df).collect()
    urls = sorted((r["url"] or "NULL") for r in out)
    assert urls == [
        "NULL",
        "https://a.com/article/1",
        "https://b.com/article/1?ref=x",
        "https://c.com/dup",
    ]
    probe = spark.createDataFrame(
        [
            ("dr", '<link href="https://evil.example/x" data-rel="canonical">'),
            ("apos", '<link rel="canonical" href="https://a/it\'s-here">'),
        ],
        "rid string, payload string",
    )
    got = {
        r["rid"]: r["c"]
        for r in probe.select(
            "rid", canonical_target("payload").alias("c")
        ).collect()
    }
    assert got["dr"] is None
    assert got["apos"] == "https://a/it's-here"


def test_parse_sitemap_cdata_and_index_anchor(spark):
    """r13 second self-review fixes: CDATA-wrapped locs parse (and do
    NOT entity-unescape — CDATA is literal); a urlset merely
    CONTAINING '<sitemapindex' text (comment/echoed markup) is not an
    index."""
    from mongo_arrow_spark.operators.url import parse_sitemap

    rows = [
        (1, "<urlset><!-- docs mention <sitemapindex> here -->"
            "<url><loc><![CDATA[https://a/1?x=1&amp;y=2]]></loc></url>"
            "</urlset>"),
        (2, "<?xml version='1.0'?>\n<!-- gen -->\n<sitemapindex>"
            "<sitemap><loc>https://a/s.xml</loc></sitemap></sitemapindex>"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload string")
    got = sorted(
        tuple(r) for r in parse_sitemap(df, keep_cols=("doc_id",)).collect()
    )
    assert got == [
        (1, "https://a/1?x=1&amp;y=2", None, False),
        (2, "https://a/s.xml", None, True),
    ]


# ------------------------------------------------ r14: verdict/ADVICE fixes


def test_canonical_dedup_post_shuffle_stability(spark):
    """r14 fix (r13 verdict What's-wrong #1): the survivor key is pure
    row content — no monotonically_increasing_id anywhere in the plan,
    so a post-shuffle input (the hazard case: partition-internal row
    order diverging between evaluations) picks a STABLE survivor set,
    and no canonical group can silently vanish."""
    from mongo_arrow_spark.operators.url import dedup_by_canonical

    rows = []
    for i in range(40):
        canon = f"https://h{i % 7}.example.com/art/{i}"
        rows.append(
            (i, canon,
             f'<link rel="canonical" href="{canon}"><p>self</p>')
        )
        rows.append(
            (i, canon + "?utm_source=x",
             f'<link rel="canonical" href="{canon}"><p>variant</p>')
        )
    df = spark.createDataFrame(
        rows, "doc_id long, url string, payload string"
    ).repartition(13)  # force the input off a shuffle
    out = dedup_by_canonical(df, "payload", "url")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "monotonically_increasing_id" not in plan
    got1 = sorted((r["doc_id"], r["url"]) for r in out.collect())
    got2 = sorted(
        (r["doc_id"], r["url"])
        for r in dedup_by_canonical(df, "payload", "url").collect()
    )
    # every group survives exactly once, as its self-canonical page
    assert got1 == [(i, f"https://h{i % 7}.example.com/art/{i}")
                    for i in range(40)]
    assert got1 == got2
    # and the plan is join-free: one window pick carries the row
    assert "Join" not in plan


def test_robots_allowed_no_positional_id_and_no_url_side_agg(spark):
    """r14 fix (ADVICE low): the verdict join is keyed on host against
    a one-row-per-host rule-array table — no monotonically_increasing_id,
    and no aggregation on the URL side that could mis-key rows on a
    task retry."""
    from mongo_arrow_spark.operators.url import parse_robots, robots_allowed

    robots = spark.createDataFrame(
        [("h", "User-agent: *\nDisallow: /no/\nAllow: /no/ok")],
        "host string, robots_txt string",
    )
    urls = spark.createDataFrame(
        [(f"https://h/no/{i}",) for i in range(10)]
        + [("https://h/no/ok/1",), ("https://h/yes",)],
        "url string",
    ).repartition(5)
    out = robots_allowed(urls, parse_robots(robots), "bot")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "monotonically_increasing_id" not in plan
    got = {r["url"]: r["allowed"] for r in out.collect()}
    assert got["https://h/no/ok/1"] is True
    assert got["https://h/yes"] is True
    assert all(got[f"https://h/no/{i}"] is False for i in range(10))


def test_robots_allowed_out_col_guard(spark):
    """r14 fix (r13 verdict What's-wrong #4): an input frame already
    carrying the output column name raises instead of silently
    overwriting; out_col= picks a free name."""
    from mongo_arrow_spark.operators.url import parse_robots, robots_allowed

    rules = parse_robots(
        spark.createDataFrame(
            [("h", "User-agent: *\nDisallow: /no/")],
            "host string, robots_txt string",
        )
    )
    urls = spark.createDataFrame(
        [("https://h/no/x", False)], "url string, allowed boolean"
    )
    with pytest.raises(ValueError, match="allowed"):
        robots_allowed(urls, rules, "bot")
    row = robots_allowed(urls, rules, "bot", out_col="robots_ok").first()
    assert row["allowed"] is False  # caller's column untouched
    assert row["robots_ok"] is False


def test_parse_robots_two_snapshots_parse_independently(spark):
    """r14 fix (r13 verdict What's-wrong #2): two DIFFERENT robots
    bodies for one host parse independently (their rule groups union —
    lines can no longer interleave by position); exact duplicate
    (host, body) rows dedup to one parse."""
    from mongo_arrow_spark.operators.url import parse_robots

    snap_a = "User-agent: *\nDisallow: /old/"
    snap_b = "User-agent: *\nDisallow: /new/\n\nUser-agent: bot\nAllow: /"
    df = spark.createDataFrame(
        [("h", snap_a), ("h", snap_b), ("h", snap_a)],  # a duplicated
        "host string, robots_txt string",
    )
    got = sorted(
        (r["agent"], r["rule_allow"], r["prefix"])
        for r in parse_robots(df).collect()
    )
    # snapshot A parsed once (duplicate collapsed), snapshot B's two
    # groups intact — no cross-snapshot group merging
    assert got == [
        ("*", False, "/new/"),
        ("*", False, "/old/"),
        ("bot", True, "/"),
    ]


def test_parse_robots_crawl_delay_groups_and_noise(spark):
    """r14 (verdict Missing #3): Crawl-delay attaches per GROUP; a
    non-numeric value is NULL; a delay-only group still emits its
    NULL-prefix existence row; a Crawl-delay line between User-agent
    lines ends the user-agent run (original REP group semantics)."""
    from mongo_arrow_spark.operators.url import parse_robots

    body = (
        "User-agent: a\nCrawl-delay: 2.5\nUser-agent: b\nDisallow: /x/\n\n"
        "User-agent: c\nCrawl-delay: fast\nDisallow: /y/\n\n"
        "User-agent: d\nCrawl-delay: 7\n"
    )
    df = spark.createDataFrame([("h", body)], "host string, robots_txt string")
    got = sorted(
        (r["agent"], r["prefix"], r["crawl_delay"])
        for r in parse_robots(df).collect()
    )
    assert got == [
        ("a", None, 2.5),        # delay-only group: existence row
        ("b", "/x/", None),      # NEW group (delay broke the UA run)
        ("c", "/y/", None),      # non-numeric delay -> NULL
        ("d", None, 7.0),
    ]


def test_schedule_fetches_crawl_delay_budgets(spark):
    """r14 (verdict Missing #3): a host declaring Crawl-delay gets a
    proportionally SMALLER wave budget — max(1, floor(per_wave/delay))
    — with exact-agent precedence over *; hosts without a delay keep
    per_wave; a specific group with no delay suppresses *'s delay."""
    from mongo_arrow_spark.operators.url import parse_robots, schedule_fetches

    robots = spark.createDataFrame(
        [
            ("slow.example", "User-agent: *\nCrawl-delay: 4\nDisallow: /no"),
            ("fast.example", "User-agent: *\nDisallow: /no"),
            # * says delay 8, but the specific group (no delay) wins
            ("mine.example",
             "User-agent: *\nCrawl-delay: 8\n\nUser-agent: bot\nDisallow: /no"),
        ],
        "host string, robots_txt string",
    )
    rules = parse_robots(robots)
    f = spark.createDataFrame(
        [(f"https://{h}/u{i}",) for h in
         ("slow.example", "fast.example", "mine.example") for i in range(8)],
        "url string",
    )
    out = schedule_fetches(f, per_wave=8, rules=rules, agent="Bot").collect()
    import collections

    per = collections.Counter((r["host"], r["wave"]) for r in out)
    # slow: budget = floor(8/4) = 2 -> waves 0..3, 2 urls each
    assert [per[("slow.example", w)] for w in range(4)] == [2, 2, 2, 2]
    # fast + specific-override: full budget, one wave
    assert per[("fast.example", 0)] == 8
    assert per[("mine.example", 0)] == 8


def test_schedule_fetches_column_guards_and_custom_names(spark):
    """r14 fix (r13 verdict What's-wrong #4): a frontier already
    carrying host/wave raises instead of being silently overwritten;
    host_col=/wave_col= emit under free names."""
    from mongo_arrow_spark.operators.url import schedule_fetches

    f = spark.createDataFrame(
        [("https://h/x", "keep-me")], "url string, host string"
    )
    with pytest.raises(ValueError, match="host"):
        schedule_fetches(f)
    row = schedule_fetches(f, host_col="fetch_host", wave_col="fetch_wave").first()
    assert row["host"] == "keep-me"
    assert row["fetch_host"] == "h" and row["fetch_wave"] == 0


def test_schedule_fetches_lastmod_orders_fresh_first(spark):
    """r14 (verdict Missing #3): with lastmod_col=, fresher URLs land
    in EARLIER waves (lastmod DESC NULLS LAST, url tiebreak)."""
    from mongo_arrow_spark.operators.url import schedule_fetches

    f = spark.createDataFrame(
        [
            ("https://h.example/old", "2026-01-01"),
            ("https://h.example/new", "2026-08-01"),
            ("https://h.example/mid", "2026-05-01"),
            ("https://h.example/unknown", None),
        ],
        "url string, lastmod string",
    )
    out = schedule_fetches(f, per_wave=1, lastmod_col="lastmod").collect()
    wave = {r["url"].rsplit("/", 1)[1]: r["wave"] for r in out}
    assert wave == {"new": 0, "mid": 1, "old": 2, "unknown": 3}


def test_extract_links_base_href(spark):
    """r14 (r13 verdict Missing #2): a <base href> element is the
    resolution base for relative links (RFC 3986 §5.1.1) — absolute,
    root-relative (against the BASE's origin), and document-relative
    forms; a RELATIVE base first resolves against the page URL; only
    the FIRST base element counts; absolute links ignore the base;
    fragments/quotes follow the href discipline."""
    from mongo_arrow_spark.operators.url import extract_links

    rows = [
        # absolute base on another host
        (1, '<base href="https://cdn.example.net/assets/">'
            '<a href="img/x.html">a</a><a href="/root">b</a>'
            '<a href="https://abs.org/q">c</a>',
         "https://page.example.com/dir/p.html"),
        # relative base resolves against the page URL first
        (2, '<base href="sub/"><a href="y.html">a</a>',
         "https://h.example.com/a/b/p.html"),
        # only the FIRST base counts
        (3, '<base href="https://one.example/d/">'
            '<base href="https://two.example/e/">'
            '<a href="z">a</a>',
         "https://h.example.com/p"),
        # no base: unchanged behavior
        (4, '<a href="rel/q.html">a</a>', "https://h.example.com/a/p.html"),
        # data-href-style boundary: basefont/base-like names must not match
        (5, '<basefont href="https://evil.example/">'
            '<a href="rel">a</a>', "https://h.example.com/a/p.html"),
    ]
    df = spark.createDataFrame(rows, "id long, payload string, url string")
    got = {
        r["id"]: r["l"]
        for r in df.select(
            "id", extract_links("payload", "url").alias("l")
        ).collect()
    }
    assert got[1] == [
        "https://cdn.example.net/assets/img/x.html",
        "https://cdn.example.net/root",
        "https://abs.org/q",
    ]
    assert got[2] == ["https://h.example.com/a/b/sub/y.html"]
    assert got[3] == ["https://one.example/d/z"]
    assert got[4] == ["https://h.example.com/a/rel/q.html"]
    assert got[5] == ["https://h.example.com/a/rel"]


def test_extract_links_base_href_differential_vs_urljoin(spark):
    """The urljoin-differential extended with base-tag cases (r14):
    for every (page, base-tag, ref) combination in the envelope, the
    resolution must equal urljoin(urljoin(page, base), ref)."""
    from urllib.parse import urljoin

    from mongo_arrow_spark.operators.url import extract_links

    pages = ["https://h.example.com/a/b/page.html",
             "http://h2.example.com:8080/x/"]
    base_tags = ["https://cdn.net/lib/", "/assets/", "sub/dir/", "../up/"]
    refs = ["x", "x/y.html", "../x", "/r", "?q=1", "//other.net/l",
            "https://abs.org/q", "a/../b"]
    rows = [
        (p, b, r, f'<base href="{b}"><a href="{r}">x</a>')
        for p in pages for b in base_tags for r in refs
    ]
    df = spark.createDataFrame(
        rows, "url string, b string, ref string, payload string"
    )
    out = df.select(
        "url", "b", "ref", extract_links("payload", "url").alias("l")
    ).collect()
    diffs = [
        (row["url"], row["b"], row["ref"], row["l"],
         urljoin(urljoin(row["url"], row["b"]), row["ref"]))
        for row in out
        if (row["l"][0] if row["l"] else None)
        != urljoin(urljoin(row["url"], row["b"]), row["ref"])
    ]
    assert not diffs, diffs
