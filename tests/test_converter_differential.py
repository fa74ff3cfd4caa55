"""Differential test: the converter's outputs on a seeded page corpus are
pinned, so a rewrite of content selection must reproduce them exactly.

A seeded generator builds pages from the 25 fixture bodies and the
converter's own selector vocabulary: nested link-density candidates (also
inside links), breadcrumbs inside and outside ``nav``, cookie and consent
banners, ``<svg><title>`` and og/twitter/DC title metas, forum pages,
nested ``main``/``article``, tables, code fences, and Unicode-whitespace,
``İ`` and Kelvin-sign text.  Each page's ``(title, markdown, error, spans)``
hash is pinned in ``tests/differential_hashes.json``.

The pinned hashes were computed with the converter as it stood before the
content-selection index was introduced, and are never regenerated to make
a failing run pass: a mismatch means the output changed.  The file also
pins a hash of the generated corpus, so a change to the generator (or to
the vocabulary it reads) fails loudly instead of silently testing other
pages.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

from fetch_engines_spark.convert import converter as conv
from fetch_engines_spark.dom import parse_selector_list
from fetch_engines_spark.extract import convert_document
from fetch_engines_spark.fixtures import FIXTURES

SEED = 20261018
N_PAGES = 320
HASHES = os.path.join(os.path.dirname(__file__), "differential_hashes.json")

_WORDS = (
    "alpha beta gamma delta epsilon zeta theta kappa lambda sigma omega "
    "river stone market garden signal harbor lantern meadow orbit canvas"
).split()
# Unicode whitespace (NBSP, em space, ideographic space, NEL, line
# separator), dotted capital I (lowercases to two characters) and the
# Kelvin sign (lowercases to ASCII "k").
_ODD = [" ", " ", "　", "\u0085", " ", "İ", "K", "İstanbul", "Kelvin"]
_CONSENT_PHRASES = [
    "Manage preferences",
    "Agree to all",
    "Refuse all",
    "Accept cookies",
    "ACCEPT COOKIES",
    "MANAGE PREFERENCES İ",
]
_HOSTS = [
    "https://news.ycombinator.com/item?id=1",
    "https://www.reddit.com/r/x/comments/1",
    "https://community.example.org/t/2",
    "https://example.com/article/3",
    "/relative/forum/4",
]


def _selector_vocabulary() -> list[str]:
    """Selectors for generic blocks; the forum indicators are left to
    :meth:`_Gen.forum`, so that most pages take the article path."""
    sels = (
        conv.PREPROCESSING_REMOVE_SELECTORS
        + conv.CONTENT_SUBTREE_REMOVE_SELECTORS
        + conv.MAIN_CONTENT_SELECTORS
        + conv.FORUM_OBVIOUS_NON_CONTENT_SELECTORS
        + conv._BREADCRUMB_SELECTORS
        + [s.strip() for s in conv._LINK_DENSITY_CANDIDATE_SELECTOR.split(",")]
    )
    return list(dict.fromkeys(sels))


def _open_tag(selector: str, rng: random.Random, default_tag: str = "div") -> str:
    """An opening tag (without ``>``) that the compound ``selector`` matches."""
    tag, preds = parse_selector_list(selector).compounds[0]
    tag = tag or default_tag
    classes: list[str] = []
    attrs: dict[str, str] = {}
    for p in preds:
        if p[0] == "class":
            classes.append(p[1])
        elif p[0] == "id":
            attrs["id"] = p[1]
        elif p[0] == "attr":
            _, name, op, val = p
            if op is None:
                attrs[name] = rng.choice(["", "x"])
            elif op == "=":
                attrs[name] = val
            elif op == "*=":
                attrs[name] = rng.choice(["", "pre-"]) + val + rng.choice(["", "-post"])
            elif op == "^=":
                attrs[name] = val + rng.choice(["", "7", "abc"])
            elif op == "$=":
                attrs[name] = rng.choice(["", "q-"]) + val
        # ":not(...)" predicates are satisfied by not adding the attribute
    if classes:
        existing = attrs.pop("class", "")
        attrs["class"] = " ".join([existing] + classes if existing else classes)
    parts = [tag] + [f'{k}="{v}"' for k, v in attrs.items()]
    return "<" + " ".join(parts)


def _close(selector_or_tag: str) -> str:
    tag = parse_selector_list(selector_or_tag).compounds[0][0] or "div"
    return f"</{tag}>"


class _Gen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.vocab = _selector_vocabulary()
        self.bodies = [f.html for f in FIXTURES]

    def words(self, lo: int, hi: int) -> str:
        rng = self.rng
        out = []
        for _ in range(rng.randint(lo, hi)):
            w = rng.choice(_WORDS)
            if rng.random() < 0.08:
                w = rng.choice(_ODD) + w
            out.append(w)
            out.append(rng.choice([" ", " ", " ", "  ", "\n", "\t", " "]))
        return "".join(out).strip()

    def link(self, text: str | None = None) -> str:
        rng = self.rng
        href = rng.choice(["/a", "b.html", "https://x.example/c", "//cdn.example/d", "mailto:z@x", ""])
        if text is None:
            text = self.words(1, 4)
            if rng.random() < 0.3:  # raw and normalized link text lengths differ
                pad = rng.choice(["\n      ", "   ", "\t\t", " \n "])
                text = pad + text.replace(" ", pad) + pad
        return f'<a href="{href}">{text}</a>'

    def links_block(self, depth: int = 0) -> str:
        """A link-density candidate, possibly nested, with a tunable mix of
        link and plain text."""
        rng = self.rng
        sel = rng.choice(
            ["div", "nav", "ul", "aside", "section", ".sidebar", ".widget", ".menu",
             "[role='navigation']", "[role='menubar']", "ol", "div.main-content", "a.menu"]
        )
        inner = []
        for _ in range(rng.randint(1, 7)):
            r = rng.random()
            if r < 0.5:
                inner.append(("<li>" + self.link() + "</li>") if sel in ("ul", "ol") else self.link())
            elif r < 0.7:
                inner.append(self.words(1, 30))
            elif r < 0.8:
                inner.append("<p>" + self.words(5, 40) + "</p>")
            elif r < 0.87:
                inner.append(f"<h{rng.randint(1, 6)}>{self.words(1, 5)}</h{rng.randint(1, 6)}>")
            elif r < 0.93 and depth < 4:
                inner.append(self.links_block(depth + 1))
            else:
                inner.append(f'<a href="/outer">{self.words(0, 3)}<div>{self.links_block(depth + 1) if depth < 4 else self.link()}</div></a>')
        return _open_tag(sel, rng) + ">" + "".join(inner) + _close(sel)

    def utility(self) -> str:
        """A short link list near the in-content prune's thresholds."""
        rng = self.rng
        tag = rng.choice(["div", "ul", "nav", "aside", "section", "ol"])
        links = [self.link() for _ in range(rng.randint(2, 6))]
        if tag in ("ul", "ol"):
            links = ["<li>" + link + "</li>" for link in links]
        return f"<{tag}>{''.join(links)} {self.words(0, 8)}</{tag}>"

    def breadcrumb(self) -> str:
        rng = self.rng
        sel = rng.choice(conv._BREADCRUMB_SELECTORS)
        crumbs = " &gt; ".join(self.link() for _ in range(rng.randint(2, 4)))
        el = _open_tag(sel, rng) + ">" + crumbs + _close(sel)
        if rng.random() < 0.5:
            return "<nav>" + el + "</nav>"
        if rng.random() < 0.5:
            return "<div class='crumbs'>" + el + "</div>"
        return el

    def banner(self) -> str:
        rng = self.rng
        kind = rng.choice(["id", "class", "text", "sel"])
        body = self.words(3, 15) + " " + rng.choice(_CONSENT_PHRASES) + " " + " ".join(
            self.link(rng.choice(_CONSENT_PHRASES)) for _ in range(rng.randint(0, 4))
        )
        if kind == "id":
            return f'<div id="{rng.choice(["cookies", "cookie-bar", "cookie-banner-1", "Cookie"])}">{body}</div>'
        if kind == "class":
            return f'<section class="{rng.choice(["consent", "cookie-consent", "consent-banner x", "gdpr"])}">{body}</section>'
        if kind == "sel":
            sel = rng.choice(conv.PREPROCESSING_REMOVE_SELECTORS[9:])
            return _open_tag(sel, rng) + ">" + body + _close(sel)
        return f"<div>{body}</div>"

    def title_bits(self) -> str:
        rng = self.rng
        out = []
        for meta in (
            '<meta property="og:title" content="OG {}">',
            '<meta name="twitter:title" content="TW {}">',
            '<meta name="DC.title" content="DC {}">',
            '<meta property="og:title">',
        ):
            if rng.random() < 0.3:
                out.append(meta.format(self.words(1, 4)))
        if rng.random() < 0.8:
            title = self.words(1, 8)
            if rng.random() < 0.15:
                title += "<div>" + " ".join(self.link() for _ in range(4)) + self.words(10, 20) + "</div>"
            if rng.random() < 0.3:
                title += " | " + self.words(1, 3)
            out.append(f"<title>{title}</title>")
        rng.shuffle(out)
        return "".join(out)

    def svg(self) -> str:
        return f"<svg><title>{self.words(1, 3)}</title><path d='M0'/></svg>"

    def table(self) -> str:
        rng = self.rng
        rows = []
        for r in range(rng.randint(1, 4)):
            cell = "th" if r == 0 and rng.random() < 0.5 else "td"
            rows.append(
                "<tr>"
                + "".join(f"<{cell}>{self.words(1, 3)}</{cell}>" for _ in range(rng.randint(1, 4)))
                + "</tr>"
            )
        return "<table><tbody>" + "".join(rows) + "</tbody></table>"

    def code(self) -> str:
        lang = self.rng.choice(["", ' class="language-python"', ' class="lang-js"'])
        body = "\n".join(self.words(1, 6) for _ in range(self.rng.randint(1, 4)))
        return f"<pre><code{lang}>{body}\n\n```x```\n</code></pre>"

    def heading(self) -> str:
        rng = self.rng
        level = rng.randint(1, 6)
        inner = self.words(1, 6)
        if rng.random() < 0.15:
            inner += "<div>" + " ".join(self.link() for _ in range(rng.randint(2, 5))) + "</div>"
        return f"<h{level}>{inner}</h{level}>"

    def para(self) -> str:
        rng = self.rng
        inner = self.words(3, 60)
        if rng.random() < 0.3:
            inner += " " + self.link() + " " + self.words(1, 10)
        if rng.random() < 0.1:
            inner += f"<span><p>{self.words(2, 8)}</p></span>"
        if rng.random() < 0.1:
            inner += f'<img src="{rng.choice(["i.png", "x.svg", "data:image/svg+xml;a", "/m.jpg"])}" alt="{self.words(0, 2)}">'
        return f"<p>{inner}</p>"

    def vocab_block(self, depth: int) -> str:
        rng = self.rng
        sel = rng.choice(self.vocab)
        inner = "".join(self.block(depth + 1) for _ in range(rng.randint(0, 3)))
        return _open_tag(sel, rng) + ">" + inner + self.words(0, 12) + _close(sel)

    def forum(self) -> str:
        rng = self.rng
        parts = []
        if rng.random() < 0.6:
            sel = rng.choice(conv.FORUM_MAIN_POST_SELECTORS)
            parts.append(_open_tag(sel, rng) + ">" + self.para() + _close(sel))
        ind = rng.choice(conv.FORUM_COMMENT_SELECTORS + conv.FORUM_VOTE_SELECTORS + conv.FORUM_THREAD_SELECTORS)
        items = "".join(
            _open_tag(ind, rng) + ">" + self.para() + (self.links_block() if rng.random() < 0.3 else "") + _close(ind)
            for _ in range(rng.randint(2, 5))
        )
        if rng.random() < 0.6:
            sel = rng.choice(conv.FORUM_COMMENTS_CONTAINER_SELECTORS)
            parts.append(
                _open_tag(sel, rng) + "><header>" + self.words(1, 3) + "</header>" + items
                + "<div class='sidebar'>" + self.link() + "</div>" + _close(sel)
            )
        else:
            parts.append(items)
        return "".join(parts)

    def block(self, depth: int = 0) -> str:
        rng = self.rng
        makers = [self.para, self.para, self.links_block, self.utility, self.heading, self.table, self.code]
        if depth < 3:
            makers += [lambda: self.vocab_block(depth), lambda: self.wrapped(depth)]
        if rng.random() < 0.15:
            makers += [self.breadcrumb, self.banner, self.svg]
        return rng.choice(makers)()

    def wrapped(self, depth: int) -> str:
        rng = self.rng
        tag = rng.choice(["main", "article", "section", "div", "div role='main'", "div role='article'"])
        inner = "".join(self.block(depth + 1) for _ in range(rng.randint(1, 4)))
        if rng.random() < 0.3:
            inner = f"<article>{inner}<article>{self.para()}</article></article>"
        return f"<{tag}>{inner}</{tag.split()[0]}>"

    def page(self) -> tuple[str, str | None, str | None, int | None]:
        rng = self.rng
        head = self.title_bits()
        if rng.random() < 0.25:
            head += f'<link rel="canonical" href="{rng.choice(_HOSTS)}">'
        if rng.random() < 0.1:
            head += f'<meta property="og:url" content="{rng.choice(_HOSTS)}">'
        body_parts = []
        for _ in range(rng.randint(1, 6)):
            r = rng.random()
            if r < 0.3:
                body_parts.append(rng.choice(self.bodies))
            elif r < 0.36:
                body_parts.append(self.forum())
            elif r < 0.5:
                body_parts.append(self.banner())
            elif r < 0.62:
                body_parts.append(self.breadcrumb())
            elif r < 0.67:
                body_parts.append(self.svg())
            else:
                body_parts.append(self.block())
        body = "".join(body_parts)
        shape = rng.random()
        if shape < 0.5:
            html = f"<html><head>{head}</head><body>{body}</body></html>"
        elif shape < 0.7:
            html = f"<!DOCTYPE html><html><head>{head}</head><body><main>{body}</main></body></html>"
        elif shape < 0.85:
            html = head + body
        else:
            html = f"<html>{head}<body><div>{body}</div></body></html>"
        base_url = rng.choice([None, "https://example.com/dir/page.html", "https://ex.example/", "notaurl"])
        source_url = rng.choice([None, None, "https://src.example/p"])
        max_len = rng.choice([None, None, None, 300, 1200])
        return html, base_url, source_url, max_len


def corpus() -> list[tuple[str, str | None, str | None, int | None]]:
    gen = _Gen(SEED)
    return [gen.page() for _ in range(N_PAGES)]


def _digest(obj) -> str:
    data = json.dumps(obj, ensure_ascii=False, sort_keys=True).encode("utf-8")
    return hashlib.sha256(data).hexdigest()[:16]


def page_hashes(pages) -> list[str]:
    out = []
    for html, base_url, source_url, max_len in pages:
        title, markdown, error, spans, _ = convert_document(html, base_url, source_url, max_len)
        out.append(_digest([title, markdown, error, spans]))
    return out


def test_corpus_is_the_pinned_one():
    pinned = json.load(open(HASHES))
    pages = corpus()
    assert len(pages) >= 300
    assert _digest(pages) == pinned["corpus"], "the generated corpus changed; the pins no longer apply"


def test_outputs_match_pinned_hashes():
    pinned = json.load(open(HASHES))["pages"]
    got = page_hashes(corpus())
    assert len(got) == len(pinned)
    diff = [i for i, (a, b) in enumerate(zip(got, pinned)) if a != b]
    assert not diff, f"{len(diff)} of {len(got)} pages changed output, first: {diff[:10]}"

