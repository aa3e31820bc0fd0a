"""HTML extraction semantics (TextExtractor.cs:19-80 test table analog)."""

from azuresearchcrawlervector_spark.core.htmlkit import (
    extract_body_html, extract_page,
)
from azuresearchcrawlervector_spark.sources.fixtures import (
    expected_extraction, render_html, test_website as website1_graph,
)


def test_title_first_wins():
    # TextExtractorTests.cs:149-159
    t, _, _ = extract_page("<html><head><title>One</title><title>Two</title></head><body>x</body></html>")
    assert t == "One"


def test_entity_decode():
    # TextExtractorTests.cs:161-173
    t, c, _ = extract_page(
        "<html><head><title>A &amp; B</title></head><body><p>x &lt; y &#65;</p></body></html>"
    )
    assert t == "A & B"
    assert c == "x < y A"


def test_noise_removal_and_whitespace():
    # script/style/svg/path removed (TextExtractor.cs:58-61); \r\n and tabs collapsed
    html = (
        "<html><head><title>T</title></head><body>"
        "<script>bad()</script><style>.x{}</style><svg><path d='m'/></svg>"
        "<p>a\r\n b\t\tc</p><div>  d  </div></body></html>"
    )
    _, c, _ = extract_page(html)
    assert c == "a b c d"


def test_no_body_no_title():
    # TextExtractorTests.cs:134,203,221
    t, c, _ = extract_page("<html><head></head></html>")
    assert t == "" and c == ""
    t, c, _ = extract_page("not html at all")
    assert t == ""


def test_malformed_html_does_not_crash():
    t, c, links = extract_page("<html><body><div><p>text<a href='/x'>link</body>")
    assert "text" in c
    assert links[0][0] == "/x"


def test_selector_scoping():
    # F5/F6: tag.class containment (AbotCrawler.cs:68-88)
    html = (
        "<html><body><div class='blog-content extra'><a href='/in.html'>i</a></div>"
        "<a href='/out.html'>o</a></body></html>"
    )
    _, _, links = extract_page(html, "div.blog-content")
    assert [(h, s) for h, _p, s in links] == [("/in.html", True), ("/out.html", False)]
    # no selector → pass-through True for all (AbotCrawler.cs:80-83)
    _, _, links = extract_page(html, None)
    assert all(s for _h, _p, s in links)


def test_link_positions_document_order():
    html = "<html><body><a href='/a'>1</a><b><a href='/b'>2</a></b><a href='/c'>3</a></body></html>"
    _, _, links = extract_page(html)
    assert [(h, p) for h, p, _ in links] == [("/a", 0), ("/b", 1), ("/c", 2)]


def test_raw_body_mode():
    # T3 (TextExtractor.cs:45-48): scripts kept
    html = "<html><body><script>k()</script><p>x</p></body></html>"
    assert extract_body_html(html) == "<script>k()</script><p>x</p>"


def test_fixture_expected_extraction_matches_kernel():
    """The generator's ground-truth columns must agree with the extraction
    kernel on every generated fixture page (engine-side sanity)."""
    g = website1_graph()
    cls = g.selector.partition(".")[2]
    for spec in g.pages.values():
        html = render_html(spec, cls)
        t, c, _ = extract_page(html)
        et, ec = expected_extraction(spec)
        assert t == et, spec.url
        assert c == ec, (spec.url, c, ec)


# ---------------------------------------------------- CSS selector engine
def _links_in_scope(html, sel):
    from azuresearchcrawlervector_spark.core.htmlkit import extract_page
    _, _, links = extract_page(html, sel)
    return [h for h, _p, in_sel in links if in_sel]


_SEL_DOC = """<html><body>
<div id="main" class="wrap outer" data-kind="x-blog-teaser-y">
  <a href="/in-main">m</a>
  <section class="case-header extra"><a href="/in-case">c</a></section>
</div>
<div class="wrap"><a href="/in-wrap">w</a></div>
<p><a href="/free">f</a></p>
</body></html>"""


def test_selector_id():
    assert _links_in_scope(_SEL_DOC, "#main") == ["/in-main", "/in-case"]
    assert _links_in_scope(_SEL_DOC, "div#main") == ["/in-main", "/in-case"]


def test_selector_attr_ops():
    # the reference integration suite's shape: div[class*="blog-teaser"]
    # (TestWebsiteIntegrationTests.cs:306) — substring on the raw attr
    assert _links_in_scope(_SEL_DOC, 'div[data-kind*="blog-teaser"]') == \
        ["/in-main", "/in-case"]
    assert _links_in_scope(_SEL_DOC, 'section[class~=extra]') == ["/in-case"]
    assert _links_in_scope(_SEL_DOC, 'div[data-kind^=x-]') == ["/in-main", "/in-case"]
    assert _links_in_scope(_SEL_DOC, 'div[data-kind$=-y]') == ["/in-main", "/in-case"]
    assert _links_in_scope(_SEL_DOC, "div[data-kind]") == ["/in-main", "/in-case"]
    assert _links_in_scope(_SEL_DOC, 'div[data-kind=nope]') == []


def test_selector_multi_class():
    assert _links_in_scope(_SEL_DOC, ".wrap.outer") == ["/in-main", "/in-case"]
    assert _links_in_scope(_SEL_DOC, "div.wrap") == \
        ["/in-main", "/in-case", "/in-wrap"]


def test_selector_descendant_and_child():
    assert _links_in_scope(_SEL_DOC, "div section") == ["/in-case"]
    assert _links_in_scope(_SEL_DOC, "#main > section") == ["/in-case"]
    # child combinator must NOT match a grandchild
    assert _links_in_scope(_SEL_DOC, "body > section") == []
    # chain ending in the anchor itself scopes that anchor
    assert _links_in_scope(_SEL_DOC, "p a") == ["/free"]


def test_selector_comma_list():
    assert _links_in_scope(_SEL_DOC, "section, p") == ["/in-case", "/free"]


def test_selector_unsupported_raises():
    import pytest
    from azuresearchcrawlervector_spark.core.htmlkit import parse_selector
    with pytest.raises(ValueError):
        parse_selector("div:nth-child(2)")
    with pytest.raises(ValueError):
        parse_selector("div,,p")
    assert parse_selector("  ") is None


# ------------------------- property: streaming selector ≡ naive DOM walk
def _naive_inscope_links(html, selector):
    """Reference implementation: build a real tree, then per-anchor walk
    ancestors-or-self checking the chain recursively (textbook CSS
    matching) — the streaming prefix-counter engine must agree."""
    from html.parser import HTMLParser
    from azuresearchcrawlervector_spark.core.htmlkit import parse_selector

    chains = parse_selector(selector)

    class Node:
        def __init__(self, tag, attrs, parent):
            self.tag, self.attrs, self.parent = tag, dict(attrs), parent
            self.children = []

    class TreeBuilder(HTMLParser):
        def __init__(self):
            super().__init__(convert_charrefs=False)
            self.root = Node("#root", [], None)
            self.cur = self.root
            self.anchors = []

        def handle_starttag(self, tag, attrs):
            n = Node(tag, attrs, self.cur)
            self.cur.children.append(n)
            if tag == "a" and dict(attrs).get("href") is not None:
                self.anchors.append((dict(attrs)["href"], n))
            self.cur = n

        def handle_endtag(self, tag):
            p = self.cur
            while p is not self.root and p.tag != tag:
                p = p.parent
            if p is not self.root:
                self.cur = p.parent

    def matches_chain(node, chain, i):
        comb, simple = chain[i]
        if node is None or node.tag == "#root":
            return False
        if not simple.matches(node.tag, node.attrs):
            return False
        if i == 0:
            return True
        prev_comb = chain[i][0]
        if prev_comb == ">":
            return matches_chain(node.parent, chain, i - 1)
        anc = node.parent
        while anc is not None and anc.tag != "#root":
            if matches_chain(anc, chain, i - 1):
                return True
            anc = anc.parent
        return False

    def selected(node):
        return any(matches_chain(node, ch, len(ch) - 1) for ch in chains)

    tb = TreeBuilder()
    tb.feed(html)
    out = []
    for href, n in tb.anchors:
        p = n
        hit = False
        while p is not None and p.tag != "#root":
            if selected(p):
                hit = True
                break
            p = p.parent
        if hit:
            out.append(href)
    return out


def test_selector_property_vs_naive_dom():
    import random
    from azuresearchcrawlervector_spark.core.htmlkit import extract_page

    rng = random.Random(1234)
    tags = ["div", "section", "span", "article"]
    classes = ["aa", "bb", "cc"]
    selectors = [
        "div", ".aa", "div.aa", "#n3", "div .bb", "section > span",
        "div.aa .bb", "[data-k]", '[data-k*="x1"]', "div, section.cc",
        "article > div > span", ".aa.bb", "span[data-k^=x]",
    ]
    for trial in range(60):
        parts = []
        depth = 0
        nid = 0
        for _ in range(rng.randint(4, 18)):
            action = rng.random()
            if action < 0.45 or depth == 0:
                t = rng.choice(tags)
                attrs = []
                if rng.random() < 0.6:
                    attrs.append(f'class="{" ".join(rng.sample(classes, rng.randint(1, 2)))}"')
                if rng.random() < 0.3:
                    attrs.append(f'id="n{nid}"')
                if rng.random() < 0.3:
                    attrs.append(f'data-k="x{rng.randint(0, 2)}"')
                parts.append(f"<{t} {' '.join(attrs)}>")
                depth += 1
                nid += 1
            elif action < 0.75:
                parts.append(f'<a href="/l{nid}">x</a>')
                nid += 1
            else:
                parts.append(f"</{rng.choice(tags)}>")  # often-mismatched close
                depth = max(0, depth - 1)
        html = "<html><body>" + "".join(parts) + "</body></html>"
        sel = rng.choice(selectors)
        _t, _c, links = extract_page(html, sel)
        engine = [h for h, _p, s in links if s]
        naive = _naive_inscope_links(html, sel)
        assert engine == naive, (trial, sel, html, engine, naive)


# ------------------------- fused link pass: extraction UDF ≡ core.urls
_EDGE_HREFS = [
    "rel/page.html", "../up.html", "/abs/path?q=1#frag", "//other.example.com/x",
    "#frag", "javascript:void(0)", "mailto:a@b.example.com", "tel:+123",
    "HTTP://UPPER.Example.COM/Path", "http://example.com:80/port",
    "https://example.com:443/", "http://example.com:8080/kept",
    "  /spaced.html  ", "\t/tabbed.html", "", "http://",
]


def _expected_link(page_url, href):
    from azuresearchcrawlervector_spark.core.urls import (
        canonicalize, host_of, href_is_crawlable,
    )
    url = canonicalize(page_url, href) if href_is_crawlable(href) else None
    return url, host_of(url)


def test_extraction_links_canonical_parity(spark):
    """Every link the extraction UDF returns carries the url/host that
    core.urls.canonicalize/host_of give against the page URL, and NULL
    where the F1 shape filter rejects the href: on every website1 and
    website2 fixture page, and on a page of edge hrefs."""
    from azuresearchcrawlervector_spark.functions.html import with_extraction
    from azuresearchcrawlervector_spark.sources.fixtures import (
        test_website2 as website2_graph,
    )
    from azuresearchcrawlervector_spark.sources.synthetic import pages_df

    edge_url = "http://example.com/dir/page.html"
    edge_html = "<html><body>" + "".join(
        f'<a href="{h}">x</a>' for h in _EDGE_HREFS) + "</body></html>"
    pages = pages_df(spark, website1_graph()).unionByName(
        pages_df(spark, website2_graph())).select("url", "html")
    pages = pages.unionByName(
        spark.createDataFrame([(edge_url, edge_html)], "url string, html string"))
    rows = with_extraction(pages.filter("html is not null"), "html").collect()
    n_links = n_resolved = 0
    for r in rows:
        for lnk in r["links"]:
            assert (lnk["url"], lnk["host"]) == _expected_link(
                r["url"], lnk["href"]), (r["url"], lnk)
            n_links += 1
            n_resolved += lnk["url"] is not None
    edge = next(r for r in rows if r["url"] == edge_url)
    assert [lnk["href"] for lnk in edge["links"]] == _EDGE_HREFS
    got = {lnk["href"]: lnk["url"] for lnk in edge["links"]}
    assert got["//other.example.com/x"] == "http://other.example.com/x"
    assert got["HTTP://UPPER.Example.COM/Path"] == "http://upper.example.com/Path"
    assert got["http://example.com:80/port"] == "http://example.com/port"
    assert got["http://example.com:8080/kept"] == "http://example.com:8080/kept"
    assert got["  /spaced.html  "] == "http://example.com/spaced.html"
    assert got["/abs/path?q=1#frag"] == "http://example.com/abs/path?q=1"
    assert got["rel/page.html"] is None and got["#frag"] is None
    assert n_links > 100 and n_resolved > 100


def test_with_extraction_without_url_column(spark):
    """An html-only frame still gets title/content/links; links resolve
    only when the href is absolute."""
    from azuresearchcrawlervector_spark.functions.html import with_extraction

    html = ("<html><head><title>T</title></head><body><p>x</p>"
            "<a href='/rel'>r</a><a href='http://A.example.com/y'>a</a>"
            "</body></html>")
    df = spark.createDataFrame([(html,)], "html string")
    r = with_extraction(df, "html").collect()[0]
    assert (r["title"], r["content"]) == ("T", "x r a")
    assert [(lnk["href"], lnk["url"], lnk["host"]) for lnk in r["links"]] == [
        ("/rel", None, None),
        ("http://A.example.com/y", "http://a.example.com/y", "a.example.com"),
    ]
