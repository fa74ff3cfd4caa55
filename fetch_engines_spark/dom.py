"""Minimal HTML DOM + CSS-subset selector engine (stdlib only).

The reference extraction engine parses HTML with ``node-html-parser``
(reference: src/utils/markdown-converter.ts:166-181) and uses only simple
compound selectors — tag, ``.class``, ``#id``, ``[attr]``, ``[attr='v']``,
``[attr*='v']``, ``[attr^='v']`` and ``iframe:not([title])`` — never
descendant combinators.  This module provides exactly that surface on top of
``html.parser.HTMLParser`` so the whole DOM pipeline can run inside an
Arrow-batched pandas UDF with no native dependencies.

Design notes for parity with node-html-parser:
- ``text_content`` preserves source whitespace verbatim (the reference's
  link-density math measures raw ``textContent.length``,
  markdown-converter.ts:568-587).
- Entities are decoded into text nodes at parse time.
- Comments are dropped (reference parses with ``{comment: false}``).
"""

from __future__ import annotations

import re
from html import escape
from html.parser import HTMLParser

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# Minimal implicit-close rules (HTML5 subset sufficient for web pages).
_IMPLICIT_CLOSERS = {
    "p": {"p"},
    "li": {"li"},
    "tr": {"tr", "td", "th"},
    "td": {"td", "th"},
    "th": {"td", "th"},
    "option": {"option"},
    "dt": {"dt", "dd"},
    "dd": {"dt", "dd"},
    "thead": {"tr", "td", "th"},
    "tbody": {"tr", "td", "th", "thead"},
    "tfoot": {"tr", "td", "th", "tbody"},
}


_EMPTY_TOKENS: list[str] = []
_class_token_cache: dict[str, list[str]] = {}


class TextNode:
    __slots__ = ("text", "parent")

    def __init__(self, text: str, parent: "Element | None" = None):
        self.text = text
        self.parent = parent

    @property
    def text_content(self) -> str:
        return self.text

    def clone(self) -> "TextNode":
        return TextNode(self.text)

    def to_html(self) -> str:
        return escape(self.text, quote=False)


class Element:
    __slots__ = ("tag", "attrs", "children", "parent")

    def __init__(self, tag: str, attrs: dict[str, str] | None = None):
        self.tag = tag
        self.attrs = attrs or {}
        self.children: list[Element | TextNode] = []
        self.parent: Element | None = None

    # --- basic tree ops -------------------------------------------------
    def append_child(self, node: "Element | TextNode") -> None:
        node.parent = self
        self.children.append(node)

    def prepend(self, node: "Element | TextNode") -> None:
        node.parent = self
        self.children.insert(0, node)

    def remove(self) -> None:
        """Detach this node from its parent (no-op if already detached)."""
        p = self.parent
        if p is not None:
            try:
                p.children.remove(self)
            except ValueError:
                pass
            self.parent = None

    def clone(self) -> "Element":
        el = Element(self.tag, dict(self.attrs))
        for ch in self.children:
            el.append_child(ch.clone())
        return el

    def set_text(self, text: str) -> None:
        """Replace all children with one text node (≈ set_content)."""
        self.children = []
        self.append_child(TextNode(text))

    # --- attribute access -----------------------------------------------
    def get_attribute(self, name: str) -> str | None:
        return self.attrs.get(name.lower())

    def set_attribute(self, name: str, value: str) -> None:
        self.attrs[name.lower()] = value

    @property
    def class_tokens(self) -> list[str]:
        cls = self.attrs.get("class")
        if not cls:
            return _EMPTY_TOKENS
        cached = _class_token_cache.get(cls)
        if cached is None:
            if len(_class_token_cache) > 20000:
                _class_token_cache.clear()
            cached = cls.split()
            _class_token_cache[cls] = cached
        return cached

    # --- text -------------------------------------------------------------
    @property
    def text_content(self) -> str:
        out: list[str] = []
        stack: list[Element | TextNode] = list(reversed(self.children))
        while stack:
            n = stack.pop()
            if isinstance(n, TextNode):
                out.append(n.text)
            else:
                stack.extend(reversed(n.children))
        return "".join(out)

    # --- traversal ---------------------------------------------------------
    def query_selector_all(self, selector: str) -> list["Element"]:
        sl = parse_selector_list(selector)
        out: list[Element] = []
        stack: list[Element | TextNode] = list(reversed(self.children))
        tags = sl.tags
        complex_match = sl.matches if sl.has_complex else None
        while stack:
            n = stack.pop()
            if isinstance(n, Element):
                if n.tag in tags:
                    out.append(n)
                elif complex_match is not None and complex_match(n):
                    out.append(n)
                stack.extend(reversed(n.children))
        return out

    def query_selector(self, selector: str) -> "Element | None":
        # same inline walk + tag fast path as query_selector_all (the
        # generator-based variant costs ~2x in the converter's hot path)
        sl = parse_selector_list(selector)
        tags = sl.tags
        complex_match = sl.matches if sl.has_complex else None
        stack: list[Element | TextNode] = list(reversed(self.children))
        while stack:
            n = stack.pop()
            if isinstance(n, Element):
                if n.tag in tags:
                    return n
                if complex_match is not None and complex_match(n):
                    return n
                stack.extend(reversed(n.children))
        return None

    def matches(self, selector: str) -> bool:
        return parse_selector_list(selector).matches(self)

    def closest(self, selector: str) -> "Element | None":
        sl = parse_selector_list(selector)
        node: Element | None = self
        while node is not None:
            if node.tag and sl.matches(node):
                return node
            node = node.parent
        return None

    # --- serialization ------------------------------------------------------
    def to_html(self) -> str:
        parts: list[str] = []
        self._serialize(parts)
        return "".join(parts)

    def _serialize(self, parts: list[str]) -> None:
        if self.tag:  # synthetic root has tag ""
            attrs = "".join(
                f' {k}="{escape(v, quote=True)}"' for k, v in self.attrs.items()
            )
            parts.append(f"<{self.tag}{attrs}>")
        for ch in self.children:
            if isinstance(ch, TextNode):
                parts.append(escape(ch.text, quote=False))
            else:
                ch._serialize(parts)
        if self.tag and self.tag not in VOID_ELEMENTS:
            parts.append(f"</{self.tag}>")

    def __repr__(self) -> str:  # pragma: no cover
        return f"<Element {self.tag} attrs={self.attrs}>"


# --------------------------------------------------------------------------
# Selector engine: compound selectors only (tag, .class, #id, [attr ops],
# :not(simple)); selector lists split on commas.
# --------------------------------------------------------------------------

_SEL_TOKEN = re.compile(
    r"""
    (?P<tag>^[a-zA-Z][\w-]*)
  | \.(?P<cls>[\w-]+)
  | \#(?P<id>[\w-]+)
  | \[(?P<attr>[\w-]+)\s*(?:(?P<op>[*^$]?=)\s*(?P<q>['"]?)(?P<val>[^\]'"]*)(?P=q)\s*)?\]
  | :not\(\s*(?P<not>[^)]+)\s*\)
    """,
    re.VERBOSE,
)

_selector_cache: dict[str, "SelectorList"] = {}


class SelectorList:
    """Parsed selector list with keyed compound dispatch.

    Fast paths (all order-independent — membership only, so bucketing
    compounds by their most selective key cannot change which elements
    match):
    - bare tag names collapse into a frozenset membership test;
    - compounds WITH a tag are keyed by that tag (only tested against
      elements of that tag);
    - tagless compounds with a class predicate are keyed by one of their
      class tokens (only tested when the element carries that token);
    - tagless compounds with an id predicate are keyed by the id;
    - the remainder (attr-only / :not-only) is a short linear scan with an
      attrs-presence pre-screen.
    Per element this is O(class tokens) instead of O(compounds) — the big
    remove-selector lists go from dozens of compound tests per element to
    (usually) zero.
    """

    __slots__ = (
        "compounds",
        "tags",
        "tag_keyed",
        "class_keyed",
        "id_keyed",
        "attr_keyed",
        "rest",
        "has_complex",
    )

    def __init__(self, compounds: list):
        self.compounds = compounds
        self.tags = frozenset(
            tag for tag, preds in compounds if tag is not None and not preds
        )
        tag_keyed: dict[str, list] = {}
        class_keyed: dict[str, list] = {}
        id_keyed: dict[str, list] = {}
        attr_keyed: dict[str, list] = {}
        rest: list = []
        for c in compounds:
            tag, preds = c
            if tag is not None and not preds:
                continue  # in self.tags
            if tag is not None:
                tag_keyed.setdefault(tag, []).append(c)
                continue
            cls_key = next((p[1] for p in preds if p[0] == "class"), None)
            if cls_key is not None:
                class_keyed.setdefault(cls_key, []).append(c)
                continue
            id_key = next((p[1] for p in preds if p[0] == "id"), None)
            if id_key is not None:
                id_keyed.setdefault(id_key, []).append(c)
                continue
            attr_key = next((p[1] for p in preds if p[0] == "attr"), None)
            if attr_key is not None:
                attr_keyed.setdefault(attr_key, []).append(c)
            else:
                rest.append(c)  # :not-only compounds (rare)
        self.tag_keyed = tag_keyed
        self.class_keyed = class_keyed
        self.id_keyed = id_keyed
        self.attr_keyed = attr_keyed
        self.rest = rest
        self.has_complex = bool(
            tag_keyed or class_keyed or id_keyed or attr_keyed or rest
        )

    def __iter__(self):
        return iter(self.compounds)

    def __len__(self):
        return len(self.compounds)

    def matches(self, el: "Element") -> bool:
        tag = el.tag
        if tag in self.tags:
            return True
        for c in self.tag_keyed.get(tag, _EMPTY_TOKENS):
            if _matches_compound(el, c):
                return True
        attrs = el.attrs
        if attrs:
            class_keyed = self.class_keyed
            if class_keyed and "class" in attrs:
                for tok in el.class_tokens:
                    for c in class_keyed.get(tok, _EMPTY_TOKENS):
                        if _matches_compound(el, c):
                            return True
            id_keyed = self.id_keyed
            if id_keyed and "id" in attrs:
                for c in id_keyed.get(attrs["id"], _EMPTY_TOKENS):
                    if _matches_compound(el, c):
                        return True
            attr_keyed = self.attr_keyed
            if attr_keyed:
                for name in attrs:
                    for c in attr_keyed.get(name, _EMPTY_TOKENS):
                        if _matches_compound(el, c):
                            return True
        for c in self.rest:
            if _matches_compound(el, c):
                return True
        return False


def parse_selector_list(selector: str) -> "SelectorList":
    cached = _selector_cache.get(selector)
    if cached is not None:
        return cached
    compounds = []
    for part in selector.split(","):
        part = part.strip()
        if not part:
            continue
        compounds.append(_parse_compound(part))
    sl = SelectorList(compounds)
    _selector_cache[selector] = sl
    return sl


def _parse_compound(part: str):
    """Returns (tag|None, [predicates])."""
    tag = None
    preds: list = []
    pos = 0
    while pos < len(part):
        m = _SEL_TOKEN.match(part, pos)
        if not m:
            raise ValueError(f"unsupported selector: {part!r}")
        if m.lastgroup == "tag" or (m.group("tag") and pos == 0):
            tag = m.group("tag").lower()
        elif m.group("cls"):
            preds.append(("class", m.group("cls")))
        elif m.group("id"):
            preds.append(("id", m.group("id")))
        elif m.group("attr"):
            preds.append(
                ("attr", m.group("attr").lower(), m.group("op"), m.group("val"))
            )
        elif m.group("not"):
            preds.append(("not", _parse_compound(m.group("not").strip())))
        pos = m.end()
    return (tag, preds)


def _matches_compound(el: Element, compound) -> bool:
    tag, preds = compound
    if tag is not None and el.tag != tag:
        return False
    for p in preds:
        kind = p[0]
        if kind == "class":
            if p[1] not in el.class_tokens:
                return False
        elif kind == "id":
            if el.attrs.get("id") != p[1]:
                return False
        elif kind == "attr":
            _, name, op, val = p
            actual = el.attrs.get(name)
            if actual is None:
                return False
            if op is None:
                continue
            if op == "=" and actual != val:
                return False
            if op == "*=" and val not in actual:
                return False
            if op == "^=" and not actual.startswith(val):
                return False
            if op == "$=" and not actual.endswith(val):
                return False
        elif kind == "not":
            if _matches_compound(el, p[1]):
                return False
    return True


# --------------------------------------------------------------------------
# Parser
# --------------------------------------------------------------------------


class _TreeBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Element("")  # synthetic document root
        self.stack: list[Element] = [self.root]

    # helpers ---------------------------------------------------------------
    def _open(self, tag: str, attrs):
        tag = tag.lower()
        closers = _IMPLICIT_CLOSERS.get(tag)
        if closers:
            while len(self.stack) > 1 and self.stack[-1].tag in closers:
                self.stack.pop()
        el = Element(tag, {k.lower(): (v if v is not None else "") for k, v in attrs})
        self.stack[-1].append_child(el)
        return el

    # HTMLParser hooks --------------------------------------------------------
    def handle_starttag(self, tag, attrs):
        el = self._open(tag, attrs)
        if tag.lower() not in VOID_ELEMENTS:
            self.stack.append(el)

    def handle_startendtag(self, tag, attrs):
        self._open(tag, attrs)

    def handle_endtag(self, tag):
        tag = tag.lower()
        if tag in VOID_ELEMENTS:
            return
        # pop to nearest matching open tag; ignore stray end tags
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return

    def handle_data(self, data):
        if data:
            self.stack[-1].append_child(TextNode(data))

    def handle_comment(self, data):  # comments dropped (parity: comment:false)
        pass

    def handle_decl(self, decl):
        pass


def parse_html_stdlib(html: str) -> Element:
    """Reference parser: stdlib html.parser (tolerant, slower)."""
    builder = _TreeBuilder()
    builder.feed(html)
    builder.close()
    return builder.root


# --- fast regex tokenizer (~1.6× the stdlib parser on typical pages) --------

from html import unescape as _unescape  # noqa: E402

_TOK = re.compile(
    r"<!--.*?-->|<!\[CDATA\[.*?\]\]>|<![^>]*>|<\?[^>]*>"
    r"|</([a-zA-Z][\w:-]*)\s*>"
    r"|<([a-zA-Z][\w:-]*)((?:\s+[^\s/>=]+(?:\s*=\s*(?:\"[^\"]*\"|'[^']*'|[^\s>]*))?)*)\s*(/?)>",
    re.S,
)
_ATTR = re.compile(r"([^\s/>=]+)(?:\s*=\s*(\"[^\"]*\"|'[^']*'|[^\s>]*))?")
_RAWTEXT_CLOSERS = {t: re.compile(rf"</{t}\s*>", re.I) for t in ("script", "style")}


def parse_html_fast(html: str) -> Element:
    """Regex tokenizer building the same tree as :func:`parse_html_stdlib`
    (validated tree-equal on the fixture corpus and by fuzzing —
    tests/test_dom.py::test_fast_parser_matches_stdlib)."""
    root = Element("")
    stack: list[Element] = [root]
    pos = 0
    n = len(html)
    search = _TOK.search
    while pos < n:
        m = search(html, pos)
        if m is None:
            text = html[pos:]
            if text:
                stack[-1].append_child(
                    TextNode(_unescape(text) if "&" in text else text)
                )
            break
        if m.start() > pos:
            text = html[pos : m.start()]
            stack[-1].append_child(TextNode(_unescape(text) if "&" in text else text))
        pos = m.end()
        close = m.group(1)
        if close is not None:
            t = close.lower()
            if t in VOID_ELEMENTS:
                continue
            for i in range(len(stack) - 1, 0, -1):
                if stack[i].tag == t:
                    del stack[i:]
                    break
            continue
        tag = m.group(2)
        if tag is None:
            continue  # comment / doctype / CDATA / processing instruction
        t = tag.lower()
        closers = _IMPLICIT_CLOSERS.get(t)
        if closers:
            while len(stack) > 1 and stack[-1].tag in closers:
                stack.pop()
        attrs: dict[str, str] = {}
        attrstr = m.group(3)
        if attrstr:
            for am in _ATTR.finditer(attrstr):
                v = am.group(2)
                if v is None:
                    v = ""
                elif v[:1] in "\"'":
                    v = v[1:-1]
                if "&" in v:
                    v = _unescape(v)
                attrs[am.group(1).lower()] = v
        el = Element(t, attrs)
        stack[-1].append_child(el)
        if m.group(4) or t in VOID_ELEMENTS:
            continue
        raw_close = _RAWTEXT_CLOSERS.get(t)
        if raw_close is not None:
            end = raw_close.search(html, pos)
            if end:
                raw = html[pos : end.start()]
                if raw:
                    el.append_child(TextNode(raw))
                pos = end.end()
            else:
                # unclosed rawtext element: stdlib html.parser discards the
                # trailing buffer — match it
                pos = n
            continue
        stack.append(el)
    return root


def parse_html(html: str) -> Element:
    """Parse HTML into a tree rooted at a synthetic ``Element('')``.

    Uses the fast tokenizer; falls back to the stdlib parser on any
    internal error (never raises for parser-choice reasons)."""
    try:
        return parse_html_fast(html)
    except Exception:
        return parse_html_stdlib(html)


# --------------------------------------------------------------------------
# One-pass collectors (performance: the extraction chain makes dozens of
# selector passes per document; these fold them into single traversals).
# --------------------------------------------------------------------------


class _SelectorGroup:
    """N selector lists compiled into ONE keyed dispatch structure.

    Per element the walk does O(1) dict lookups + O(class tokens) work
    regardless of how many selector lists (or compounds) the group holds —
    the multi-pattern analog of SelectorList's keyed dispatch.  Every
    entry carries the index of the selector list it belongs to.
    """

    __slots__ = (
        "n",
        "tag_buckets",
        "tag_keyed",
        "class_keyed",
        "id_keyed",
        "attr_keyed",
        "rest",
    )

    def __init__(self, selectors: tuple[str, ...]):
        self.n = len(selectors)
        tag_buckets: dict[str, list[int]] = {}
        tag_keyed: dict[str, list] = {}
        class_keyed: dict[str, list] = {}
        id_keyed: dict[str, list] = {}
        attr_keyed: dict[str, list] = {}
        rest: list = []
        for i, s in enumerate(selectors):
            for c in parse_selector_list(s).compounds:
                tag, preds = c
                if tag is not None and not preds:
                    tag_buckets.setdefault(tag, []).append(i)
                elif tag is not None:
                    tag_keyed.setdefault(tag, []).append((i, c))
                else:
                    cls_key = next((p[1] for p in preds if p[0] == "class"), None)
                    if cls_key is not None:
                        class_keyed.setdefault(cls_key, []).append((i, c))
                        continue
                    id_key = next((p[1] for p in preds if p[0] == "id"), None)
                    if id_key is not None:
                        id_keyed.setdefault(id_key, []).append((i, c))
                        continue
                    attr_key = next((p[1] for p in preds if p[0] == "attr"), None)
                    if attr_key is not None:
                        attr_keyed.setdefault(attr_key, []).append((i, c))
                    else:
                        rest.append((i, c))  # :not-only compounds (rare)
        self.tag_buckets = tag_buckets
        self.tag_keyed = tag_keyed
        self.class_keyed = class_keyed
        self.id_keyed = id_keyed
        self.attr_keyed = attr_keyed
        self.rest = rest

    def hits(self, el: Element) -> list[int]:
        """Deduped indexes of the selector lists this element matches."""
        tag = el.tag
        base = self.tag_buckets.get(tag)
        out: list[int] = list(base) if base else []
        for i, c in self.tag_keyed.get(tag, _EMPTY_TOKENS):
            if _matches_compound(el, c):
                out.append(i)
        attrs = el.attrs
        if attrs:
            class_keyed = self.class_keyed
            if class_keyed and "class" in attrs:
                for tok in el.class_tokens:
                    for i, c in class_keyed.get(tok, _EMPTY_TOKENS):
                        if _matches_compound(el, c):
                            out.append(i)
            id_keyed = self.id_keyed
            if id_keyed and "id" in attrs:
                for i, c in id_keyed.get(attrs["id"], _EMPTY_TOKENS):
                    if _matches_compound(el, c):
                        out.append(i)
            attr_keyed = self.attr_keyed
            if attr_keyed:
                for name in attrs:
                    for i, c in attr_keyed.get(name, _EMPTY_TOKENS):
                        if _matches_compound(el, c):
                            out.append(i)
        for i, c in self.rest:
            if _matches_compound(el, c):
                out.append(i)
        if len(out) > 1:
            seen: set[int] = set()
            out = [i for i in out if not (i in seen or seen.add(i))]
        return out


_group_cache: dict[tuple[str, ...], _SelectorGroup] = {}


def _selector_group(selectors: tuple[str, ...]) -> _SelectorGroup:
    g = _group_cache.get(selectors)
    if g is None:
        g = _SelectorGroup(selectors)
        _group_cache[selectors] = g
    return g


def collect_matches(root: Element, selectors: list[str]) -> list[list[Element]]:
    """One traversal, N selector lists → N match lists in document order.

    Equivalent to ``[root.query_selector_all(s) for s in selectors]``.
    """
    g = _selector_group(tuple(selectors))
    buckets: list[list[Element]] = [[] for _ in range(g.n)]
    tag_buckets = g.tag_buckets
    tag_keyed = g.tag_keyed
    has_attr_preds = bool(g.class_keyed or g.id_keyed or g.attr_keyed)
    rest = g.rest
    hits = g.hits
    stack: list[Element | TextNode] = list(reversed(root.children))
    while stack:
        n = stack.pop()
        if isinstance(n, Element):
            tag = n.tag
            # fast paths: most elements hit nothing; pure tag hits with no
            # complex compound in play skip the hits() call entirely
            maybe_complex = (
                tag in tag_keyed or (has_attr_preds and n.attrs) or rest
            )
            if maybe_complex:
                for i in hits(n):
                    buckets[i].append(n)
            else:
                base = tag_buckets.get(tag)
                if base is not None:
                    for i in base:
                        buckets[i].append(n)
            stack.extend(reversed(n.children))
    return buckets


def collect_first_matches(root: Element, selectors: list[str]) -> list["Element | None"]:
    """One traversal, N selector lists → first document-order match per
    selector (or None).  Equivalent to
    ``[root.query_selector(s) for s in selectors]`` with early exit once
    every selector has matched."""
    g = _selector_group(tuple(selectors))
    out: list[Element | None] = [None] * g.n
    remaining = g.n
    tag_buckets = g.tag_buckets
    tag_keyed = g.tag_keyed
    has_attr_preds = bool(g.class_keyed or g.id_keyed or g.attr_keyed)
    rest = g.rest
    hits = g.hits
    stack: list[Element | TextNode] = list(reversed(root.children))
    while stack and remaining:
        n = stack.pop()
        if isinstance(n, Element):
            tag = n.tag
            if tag in tag_keyed or (has_attr_preds and n.attrs) or rest:
                for i in hits(n):
                    if out[i] is None:
                        out[i] = n
                        remaining -= 1
            else:
                base = tag_buckets.get(tag)
                if base is not None:
                    for i in base:
                        if out[i] is None:
                            out[i] = n
                            remaining -= 1
            stack.extend(reversed(n.children))
    return out


class SubtreeStats:
    """Single-walk statistics over an element's subtree — everything the
    link-density pruners and content scorers need, without re-traversal.

    Parity notes: ``text`` is the raw textContent (whitespace preserved);
    ``outer_link_texts`` are the textContents of links whose closest('a')
    is themselves (nested links fold into the outer one, matching the
    reference's non-nested link-text accounting,
    markdown-converter.ts:575-582); ``p_texts`` are raw per-<p> texts.
    """

    __slots__ = (
        "text",
        "n_links",
        "outer_link_texts",
        "n_h16",
        "n_h13",
        "n_p",
        "p_texts",
        "n_img",
        "n_figure",
        "n_video",
        "n_iframe",
        "n_main_like",
    )

    def __init__(self):
        self.text = ""
        self.n_links = 0
        self.outer_link_texts: list[str] = []
        self.n_h16 = 0
        self.n_h13 = 0
        self.n_p = 0
        self.p_texts: list[str] = []
        self.n_img = 0
        self.n_figure = 0
        self.n_video = 0
        self.n_iframe = 0
        self.n_main_like = 0  # main/article tags or role=main/article

    @property
    def raw_text_len(self) -> int:
        return len(self.text)

    @property
    def outer_link_text_len(self) -> int:
        return sum(len(t) for t in self.outer_link_texts)


_H16 = frozenset(("h1", "h2", "h3", "h4", "h5", "h6"))
_H13 = frozenset(("h1", "h2", "h3"))


def subtree_stats(el: Element) -> SubtreeStats:
    st = SubtreeStats()
    text_parts: list[str] = []
    link_parts: list[str] | None = None
    p_parts: list[str] | None = None
    link_depth = 0
    p_depth = 0
    EXIT = object()
    stack: list = [el]
    first = True
    while stack:
        n = stack.pop()
        if n is EXIT:
            tag = stack.pop()
            if tag == "a":
                link_depth -= 1
                if link_depth == 0 and link_parts is not None:
                    st.outer_link_texts.append("".join(link_parts))
                    link_parts = None
            elif tag == "p":
                p_depth -= 1
                if p_depth == 0 and p_parts is not None:
                    st.p_texts.append("".join(p_parts))
                    p_parts = None
            continue
        if isinstance(n, TextNode):
            text_parts.append(n.text)
            if link_parts is not None:
                link_parts.append(n.text)
            if p_parts is not None:
                p_parts.append(n.text)
            continue
        tag = n.tag
        if not first:
            if tag == "a":
                st.n_links += 1
                if link_depth == 0:
                    link_parts = []
                link_depth += 1
                stack.append("a")
                stack.append(EXIT)
            elif tag == "p":
                st.n_p += 1
                if p_depth == 0:
                    p_parts = []
                p_depth += 1
                stack.append("p")
                stack.append(EXIT)
            elif tag in _H16:
                st.n_h16 += 1
                if tag in _H13:
                    st.n_h13 += 1
            elif tag == "img":
                st.n_img += 1
            elif tag == "figure":
                st.n_figure += 1
            elif tag == "video":
                st.n_video += 1
            elif tag == "iframe":
                st.n_iframe += 1
            if tag in ("main", "article") or n.attrs.get("role") in ("main", "article"):
                st.n_main_like += 1
        first = False
        stack.extend(reversed(n.children))
    st.text = "".join(text_parts)
    return st
