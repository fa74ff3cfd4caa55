"""Unit tests for the stdlib DOM + selector engine."""

from fetch_engines_spark.dom import parse_html


def test_parse_and_text_content_preserves_whitespace():
    root = parse_html("<div>\n  <p>hello</p>\n</div>")
    assert root.text_content == "\n  hello\n"


def test_query_selector_tag_class_id():
    root = parse_html(
        '<div id="a" class="x y"><span class="x">1</span></div><p class="x-z">2</p>'
    )
    assert len(root.query_selector_all(".x")) == 2
    assert root.query_selector("#a").tag == "div"
    assert root.query_selector("p.x-z").text_content == "2"
    # class token must match exactly, not substring
    assert root.query_selector_all(".x")[0].get_attribute("id") == "a"


def test_attr_selectors():
    root = parse_html(
        '<img src="data:image/svg+xml;base64,x"><img src="/a.png">'
        '<input type="button"><input type="text">'
        '<div id="cookie-banner-2">c</div>'
    )
    assert len(root.query_selector_all("img[src*='data:image/svg']")) == 1
    assert len(root.query_selector_all("input[type='button']")) == 1
    assert len(root.query_selector_all("[id*='cookie-banner']")) == 1


def test_not_selector():
    root = parse_html('<iframe title="embed"></iframe><iframe src="x"></iframe>')
    matches = root.query_selector_all("iframe:not([title])")
    assert len(matches) == 1
    assert matches[0].get_attribute("src") == "x"


def test_prefix_attr_selector():
    root = parse_html('<div id="comment-12">a</div><div id="c_9">b</div><div id="x">c</div>')
    assert len(root.query_selector_all("[id^='comment-']")) == 1
    assert len(root.query_selector_all("div[id^='c_']")) == 1


def test_closest_and_remove():
    root = parse_html("<main><section><a href='/x'>l</a></section></main>")
    a = root.query_selector("a")
    assert a.closest("main").tag == "main"
    assert a.closest("a") is a
    section = root.query_selector("section")
    section.remove()
    assert root.query_selector("a") is None


def test_clone_is_deep_and_detached():
    root = parse_html("<div><p>x</p></div>")
    div = root.query_selector("div")
    c = div.clone()
    assert c.parent is None
    c.query_selector("p").remove()
    assert div.query_selector("p") is not None


def test_void_elements_and_entities():
    root = parse_html("<p>a &amp; b<br>c</p><img src='i.png'>")
    p = root.query_selector("p")
    assert p.text_content == "a & b" + "c"
    assert root.query_selector("img") is not None


def test_implicit_close_li_and_p():
    root = parse_html("<ul><li>one<li>two</ul><p>x<p>y")
    lis = root.query_selector_all("li")
    assert [li.text_content for li in lis] == ["one", "two"]
    assert len(root.query_selector_all("p")) == 2


def test_selector_list_commas():
    root = parse_html("<script>x</script><style>y</style><div>z</div>")
    matches = root.query_selector_all("script, style")
    assert {m.tag for m in matches} == {"script", "style"}


def test_to_html_roundtrip():
    html = '<div class="a"><p>text &amp; more</p><img src="x.png"></div>'
    root = parse_html(html)
    out = root.to_html()
    reparsed = parse_html(out)
    assert reparsed.query_selector("p").text_content == "text & more"
    assert reparsed.query_selector("img").get_attribute("src") == "x.png"


def _merge_text(children):
    from fetch_engines_spark.dom import TextNode

    out = []
    for c in children:
        if isinstance(c, TextNode) and out and isinstance(out[-1], TextNode):
            out[-1] = TextNode(out[-1].text + c.text)
        else:
            out.append(c)
    return out


def _tree_diff(a, b, path="root"):
    from fetch_engines_spark.dom import TextNode

    ca, cb = _merge_text(a.children), _merge_text(b.children)
    if len(ca) != len(cb):
        return f"{path}: child count {len(ca)} vs {len(cb)}"
    for i, (x, y) in enumerate(zip(ca, cb)):
        tx, ty = isinstance(x, TextNode), isinstance(y, TextNode)
        if tx != ty:
            return f"{path}[{i}]: node type"
        if tx:
            if x.text != y.text:
                return f"{path}[{i}]: text {x.text[:40]!r} != {y.text[:40]!r}"
        else:
            if x.tag != y.tag or x.attrs != y.attrs:
                return f"{path}[{i}]: {x.tag} {x.attrs} != {y.tag} {y.attrs}"
            d = _tree_diff(x, y, f"{path}/{x.tag}")
            if d:
                return d
    return None


def test_fast_parser_matches_stdlib_on_fixtures():
    from fetch_engines_spark.dom import parse_html_fast, parse_html_stdlib
    from fetch_engines_spark.fixtures import FIXTURES

    for f in FIXTURES:
        d = _tree_diff(parse_html_fast(f.html), parse_html_stdlib(f.html))
        assert d is None, (f.id, d)


def test_fast_parser_matches_stdlib_fuzz():
    import string

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from fetch_engines_spark.dom import parse_html_fast, parse_html_stdlib

    tags = ["div", "p", "a", "span", "script", "style", "img", "ul", "li", "br", "table", "tr", "td"]
    frag = st.recursive(
        st.text(string.ascii_letters + " &amp; &lt; #x27; \n\t", max_size=40),
        lambda inner: st.builds(
            lambda t, a, i, closed: f"<{t}{a}>{i}" + (f"</{t}>" if closed else ""),
            st.sampled_from(tags),
            st.sampled_from(["", " class='a b'", ' id="x"', " data-v='1' hidden", " href=/x"]),
            inner,
            st.booleans(),
        ),
        max_leaves=8,
    )

    @settings(max_examples=300, deadline=None)
    @given(st.lists(frag, max_size=5).map("".join))
    def check(html):
        d = _tree_diff(parse_html_fast(html), parse_html_stdlib(html))
        assert d is None, (html[:120], d)

    check()


# --- DocIndex: every query equals the brute-force answer on the live tree ---


def _index_pages():
    """Parsed pages with links nested in links and in link-density
    candidates, main-like wrappers, headings, media and odd-case text."""
    import random

    from fetch_engines_spark.fixtures import FIXTURES

    rng = random.Random(7)
    words = ["Accept cookies", "refuse all", "İ", "K", " ", "  x  ", "text", "\n", "\u00a0\u2003", " \t" * 50]

    def block(depth):
        tag = rng.choice(["div", "section", "ul", "nav", "a", "p", "main", "article",
                          "h1", "h3", "span", "img", "figure", "video", "iframe"])
        attrs = rng.choice(["", " class='sidebar'", " role='main'", " role='article'",
                            " id='c_1'", " class='post x'", " href='/h'"])
        inner = "".join(
            rng.choice(words) if rng.random() < 0.5 or depth > 4 else block(depth + 1)
            for _ in range(rng.randint(0, 4))
        )
        return f"<{tag}{attrs}>{inner}</{tag}>"

    pages = [f.html for f in FIXTURES]
    pages += ["<body>" + "".join(block(0) for _ in range(rng.randint(1, 6))) + "</body>" for _ in range(60)]
    return [parse_html(h) for h in pages], rng


def _live_stats(el):
    """The index's subtree figures computed by walking the live subtree:
    counts exclude ``el``; outer links are those with no link between
    them and ``el``."""
    from fetch_engines_spark.dom import TextNode

    counts: dict = {}
    outer: list = []
    stack = [(ch, False) for ch in reversed(el.children)]
    while stack:
        n, in_link = stack.pop()
        if isinstance(n, TextNode):
            continue
        counts[n.tag] = counts.get(n.tag, 0) + 1
        if n.tag in ("main", "article") or n.attrs.get("role") in ("main", "article"):
            counts["main-like"] = counts.get("main-like", 0) + 1
        if n.tag == "a" and not in_link:
            outer.append(n.text_content)
        stack.extend((ch, in_link or n.tag == "a") for ch in reversed(n.children))
    return counts, outer


def test_doc_index_answers_match_the_live_tree():
    """Removals in random order (not only document order), then every
    position's figures against a walk of the live tree."""
    from fetch_engines_spark.dom import DocIndex, collect_matches

    norm = lambda s: len(" ".join(s.split()))  # noqa: E731
    needles = ("accept cookies", "refuse all")
    sels = ("div, section", "a", "h1, h3", "[role='main']", ".sidebar", "div[id^='c_']")
    roots, rng = _index_pages()
    for root in roots:
        idx = DocIndex(root, sels)
        n = len(idx.els)
        assert [[idx.els[i] for i in idx.matches(s)] for s in sels] == collect_matches(root, list(sels))
        order = list(range(1, n))
        rng.shuffle(order)
        for i in order[: rng.randint(0, max(1, n // 3))]:
            if not idx.is_removed(i):
                idx.remove(i)
        live = [i for i in range(n) if not idx.is_removed(i)]
        attached = set()
        stack = [root]
        while stack:
            e = stack.pop()
            attached.add(id(e))
            stack.extend(c for c in e.children if hasattr(c, "tag"))
        assert {id(idx.els[i]) for i in live} == attached
        for s in sels:
            assert [idx.els[i] for i in idx.matches(s)] == root.query_selector_all(s)
        for i in live:
            el = idx.els[i]
            counts, outer = _live_stats(el)
            text = el.text_content
            assert idx.text_of(i) == text
            assert idx.text_of(i, 7) == text[:7]
            assert idx.text_len(i) == len(text)
            assert idx.stripped_len(i) == len(text.strip())
            for tags in ("a", "p", ("h1", "h3"), ("img", "figure", "video")):
                want = sum(counts.get(t, 0) for t in ((tags,) if isinstance(tags, str) else tags))
                assert idx.count(tags, i) == want, (i, tags)
            assert idx.count_main_like(i) == counts.get("main-like", 0)
            assert idx.outer_link_text_len(i) == sum(map(len, outer))
            assert idx.outer_link_text_len(i, norm) == sum(map(norm, outer))
            closest = el.closest("main, article, [role='main'], [role='article']")
            assert idx.in_main_like(i) == (closest is not None and bool(closest.tag))
            assert idx.lower_text_contains(i, needles) == any(x in text.lower() for x in needles)
            for s in sels:
                assert [idx.els[j] for j in idx.matches(s, i)] == el.query_selector_all(s)
                first = idx.first(s, i)
                assert (None if first is None else idx.els[first]) == el.query_selector(s)


def test_selector_groups_match_query_selector_all():
    """The keyed dispatch of every selector list the converter indexes or
    collects gives ``query_selector_all``'s answer."""
    from fetch_engines_spark.convert import converter as c
    from fetch_engines_spark.dom import DocIndex, collect_matches

    groups = [
        c._DOCUMENT_SELECTORS,
        c._CONTENT_SELECTORS,
        (c._PREPROCESSING_REMOVE, c._ABSOLUTIZE_SELECTOR, "img[src]", c._BREADCRUMBS),
    ]
    roots, _ = _index_pages()
    for root in roots:
        for sels in groups:
            want = [root.query_selector_all(s) for s in sels]
            assert collect_matches(root, list(sels)) == want
            idx = DocIndex(root, sels)
            assert [[idx.els[i] for i in idx.matches(s)] for s in sels] == want
