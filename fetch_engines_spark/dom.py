"""Minimal HTML DOM + CSS-subset selector engine (stdlib only).

The reference extraction engine parses HTML with ``node-html-parser``
(reference: src/utils/markdown-converter.ts:166-181) and uses only simple
compound selectors — tag, ``.class``, ``#id``, ``[attr]``, ``[attr='v']``,
``[attr*='v']``, ``[attr^='v']`` and ``iframe:not([title])`` — never
descendant combinators.  This module provides exactly that surface on top of
``html.parser.HTMLParser`` so the whole DOM pipeline can run inside the
extraction stage's ``mapInArrow`` function with no native dependencies.
``DocIndex`` indexes a parsed tree once so that content selection answers
its per-element questions (subtree text, counts, enclosing elements) without
walking the tree again.

Design notes for parity with node-html-parser:
- ``text_content`` preserves source whitespace verbatim (the reference's
  link-density math measures raw ``textContent.length``,
  markdown-converter.ts:568-587).
- Entities are decoded into text nodes at parse time.
- Comments are dropped (reference parses with ``{comment: false}``).
"""

from __future__ import annotations

import re
from bisect import bisect_left, bisect_right
from collections import defaultdict
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
    entry carries the index of the selector list it belongs to, and
    ``slot`` maps each selector list to that index.
    """

    __slots__ = (
        "n",
        "slot",
        "tag_buckets",
        "tag_keyed",
        "class_keyed",
        "id_keyed",
        "attr_keyed",
        "rest",
    )

    def __init__(self, selectors: tuple[str, ...]):
        self.n = len(selectors)
        self.slot = {s: i for i, s in enumerate(selectors)}
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
    iters = [iter(root.children)]  # one child iterator per open element
    while iters:
        for n in iters[-1]:
            if n.__class__ is TextNode:
                continue
            tag = n.tag
            # fast paths: most elements hit nothing; pure tag hits with no
            # complex compound in play skip the hits() call entirely
            if tag in tag_keyed or (has_attr_preds and n.attrs) or rest:
                for i in hits(n):
                    buckets[i].append(n)
            else:
                base = tag_buckets.get(tag)
                if base is not None:
                    for i in base:
                        buckets[i].append(n)
            if n.children:
                iters.append(iter(n.children))
                break
        else:
            iters.pop()
    return buckets


_MAIN_LIKE_TAGS = frozenset(("main", "article"))
_MAIN_LIKE_ROLES = frozenset(("main", "article"))
MAIN_LIKE_SELECTOR = "main, article, [role='main'], [role='article']"
_NO_POSITIONS: list[int] = []
_NON_SPACE = re.compile(r"\S")  # the characters str.strip() keeps


class DocIndex:
    """Document-order index of the tree under ``root``, built by one
    iterative pre-order walk, so that per-element queries need no further
    walk.

    Position 0 is ``root``; every element below it gets the next position
    in document order.  For each position the index records the subtree end
    (``end[i]``: one past its last descendant, so a subtree is the position
    range ``[i, end[i])``) and its character range in ``text``, the
    document's text nodes joined in order.  It also records, for each
    selector list given, the positions below ``root`` that match it
    (``root`` itself never matches, as with ``query_selector_all``).
    Subtree counts, the enclosing-main-content fact and link-text sums are
    answered from sorted position lists, built on first use.

    :meth:`remove` detaches an element and records its position range.
    Removed ranges are kept disjoint, and every query answers for the tree
    as it is now: match lists skip elements inside a removed range, and
    counts, text and link-text sums leave out the removed ranges inside the
    queried subtree, one step per such range (index the pruned tree afresh
    before querying many subtrees that hold many removed ranges).  Attribute
    edits are not tracked, and the tree must not change other than through
    :meth:`remove` while the index is in use.
    """

    __slots__ = (
        "els",
        "end",
        "tstart",
        "tend",
        "text",
        "_slot",
        "_matches",
        "_by_tag",
        "_merged",
        "_main_like",
        "_main_cover",
        "_links",
        "_link_sums",
        "_needles",
        "_rm_starts",
        "_rm_ends",
    )

    def __init__(self, root: Element, selectors: tuple[str, ...]):
        """Index the tree under ``root``, recording the matches of each
        selector list in ``selectors`` (a tuple, the cache key of its
        compiled dispatch)."""
        if MAIN_LIKE_SELECTOR not in selectors:  # the main-content queries read it
            selectors += (MAIN_LIKE_SELECTOR,)
        g = _selector_group(selectors)
        buckets: defaultdict[int, list[int]] = defaultdict(list)
        tag_buckets = g.tag_buckets
        tag_keyed = g.tag_keyed
        has_attr_preds = bool(g.class_keyed or g.id_keyed or g.attr_keyed)
        rest = g.rest
        hits = g.hits
        els: list[Element] = [root]
        end = [0]
        tstart = [0]
        tend = [0]
        by_tag: dict[str, list[int]] = {root.tag: [0]}
        parts: list[str] = []
        off = 0
        # one child iterator per open element; a loop that runs out of
        # children closes its element's subtree
        iters = [iter(root.children)]
        open_pos = [0]
        while iters:
            for n in iters[-1]:
                if n.__class__ is TextNode:
                    t = n.text
                    parts.append(t)
                    off += len(t)
                    continue
                i = len(els)
                els.append(n)
                tstart.append(off)
                tag = n.tag
                bt = by_tag.get(tag)
                if bt is None:
                    by_tag[tag] = [i]
                else:
                    bt.append(i)
                if tag in tag_keyed or (has_attr_preds and n.attrs) or rest:
                    for k in hits(n):
                        buckets[k].append(i)
                else:
                    base = tag_buckets.get(tag)
                    if base is not None:
                        for k in base:
                            buckets[k].append(i)
                if n.children:
                    end.append(0)
                    tend.append(0)
                    iters.append(iter(n.children))
                    open_pos.append(i)
                    break
                end.append(i + 1)
                tend.append(off)
            else:
                iters.pop()
                i = open_pos.pop()
                end[i] = len(els)
                tend[i] = off
        self.els = els
        self.end = end
        self.tstart = tstart
        self.tend = tend
        self.text = "".join(parts)
        self._slot = g.slot
        self._matches = buckets
        self._by_tag = by_tag
        self._merged: dict[tuple[str, ...], list[int]] = {}
        self._main_like: list[int] | None = None
        self._main_cover: tuple[list[int], list[int], bool] | None = None
        self._links: tuple[list[int], dict[int, list[int]]] | None = None
        self._needles: dict[tuple[str, ...], list[list[int]] | None] = {}
        self._link_sums: dict = {}
        self._rm_starts: list[int] = []
        self._rm_ends: list[int] = []

    # --- selector matches ----------------------------------------------------
    def matches(self, selector: str, within: int = 0) -> list[int]:
        """Positions matching ``selector`` (one of the indexed lists) strictly
        inside ``within``'s subtree and not removed, in document order."""
        m = self._matches.get(self._slot[selector])
        if not m:
            return _NO_POSITIONS
        if within:
            m = m[bisect_right(m, within) : bisect_left(m, self.end[within])]
        if self._rm_starts:
            return [i for i in m if not self.is_removed(i)]
        return m

    def first(self, selector: str, within: int = 0) -> int | None:
        """First position that :meth:`matches` would list, or None."""
        m = self._matches.get(self._slot[selector])
        if not m:
            return None
        lo = bisect_right(m, within) if within else 0
        stop = self.end[within]
        for i in m[lo:]:
            if i >= stop:
                break
            if not self.is_removed(i):
                return i
        return None

    def position(self, el: Element) -> int | None:
        """Position of ``el``, or None if it is not in the indexed tree."""
        try:
            return self.els.index(el)
        except ValueError:
            return None

    # --- removal ----------------------------------------------------------------
    def remove(self, i: int) -> None:
        """Detach the element at (unremoved) position ``i`` and record its
        range, absorbing the removed ranges inside it."""
        self.els[i].remove()
        starts, ends = self._rm_starts, self._rm_ends
        lo, hi = self._removed_inside(i)
        starts[lo:hi] = [i]
        ends[lo:hi] = [self.end[i]]

    def is_removed(self, i: int) -> bool:
        """True iff ``i`` lies in a removed range."""
        k = bisect_right(self._rm_starts, i) - 1
        return k >= 0 and i < self._rm_ends[k]

    def has_removed_inside(self, i: int) -> bool:
        """True iff an element strictly inside ``i``'s subtree was removed."""
        lo, hi = self._removed_inside(i)
        return lo != hi

    def _removed_inside(self, i: int) -> tuple[int, int]:
        """Slice bounds of the removed ranges strictly inside ``i``'s
        subtree (``i`` itself not removed)."""
        starts = self._rm_starts
        if not starts:
            return 0, 0
        return bisect_right(starts, i), bisect_left(starts, self.end[i])

    # --- text ---------------------------------------------------------------------
    def text_len(self, i: int) -> int:
        """``len(text_of(i))``."""
        n = self.tend[i] - self.tstart[i]
        lo, hi = self._removed_inside(i)
        for r in self._rm_starts[lo:hi]:
            n -= self.tend[r] - self.tstart[r]
        return n

    def text_of(self, i: int, limit: int | None = None) -> str:
        """``text_content`` of the element at ``i`` (its first ``limit``
        characters, if given)."""
        lo, hi = self._removed_inside(i)
        stop = self.tend[i] if limit is None else self.tstart[i] + limit
        if lo == hi:
            return self.text[self.tstart[i] : min(stop, self.tend[i])]
        text, tstart, tend = self.text, self.tstart, self.tend
        pieces = []
        at = tstart[i]
        for r in self._rm_starts[lo:hi]:
            if tstart[r] >= stop:
                break
            pieces.append(text[at : tstart[r]])
            stop += tend[r] - tstart[r]
            at = tend[r]
        pieces.append(text[at : min(stop, tend[i])])
        return "".join(pieces)

    def stripped_len(self, i: int) -> int:
        """``len(text_of(i).strip())``.  With no removed range inside the
        subtree it reads only the whitespace at both ends of the text."""
        a, b = self.tstart[i], self.tend[i]
        lo, hi = self._removed_inside(i)
        if lo != hi:
            return len(self.text_of(i).strip())
        text = self.text
        m = _NON_SPACE.search(text, a, b)
        if m is None:
            return 0
        a = m.start()
        while True:  # text[a] is not whitespace: some chunk keeps a character
            start = max(a, b - 64)
            tail = text[start:b].rstrip()
            if tail:
                return start + len(tail) - a
            b = start

    def lower_text_contains(self, i: int, needles: tuple[str, ...]) -> bool:
        """True iff ``text_of(i).lower()`` contains one of ``needles``
        (lowercase ASCII strings).

        Each needle's occurrences in the lowercased document text are found
        once.  That text lines up with ``text`` character for character
        unless some character lowercases to two (U+0130); then, and for a
        subtree with removed ranges inside, the subtree's text is
        lowercased instead."""
        occurrences = self._needles.get(needles, False)
        if occurrences is False:
            low = self.text.lower()
            occurrences = None
            if len(low) == len(self.text):
                occurrences = []
                for needle in needles:
                    starts = []
                    k = low.find(needle)
                    while k >= 0:
                        starts.append(k)
                        k = low.find(needle, k + 1)
                    occurrences.append(starts)
            self._needles[needles] = occurrences
        lo, hi = self._removed_inside(i)
        if occurrences is None or lo != hi:
            text = self.text_of(i).lower()
            return any(needle in text for needle in needles)
        a, b = self.tstart[i], self.tend[i]
        for needle, starts in zip(needles, occurrences):
            k = bisect_left(starts, a)
            if k < len(starts) and starts[k] + len(needle) <= b:
                return True
        return False

    # --- subtree counts -------------------------------------------------------------
    def _count(self, pos: list[int], i: int) -> int:
        end = self.end[i]
        n = bisect_left(pos, end) - bisect_right(pos, i)
        if n:
            lo, hi = self._removed_inside(i)
            for k in range(lo, hi):
                n -= bisect_left(pos, self._rm_ends[k]) - bisect_left(pos, self._rm_starts[k])
        return n

    def _tag_positions(self, tags: str | tuple[str, ...]) -> list[int]:
        if isinstance(tags, str):
            return self._by_tag.get(tags, _NO_POSITIONS)
        merged = self._merged.get(tags)
        if merged is None:
            merged = sorted(p for t in tags for p in self._by_tag.get(t, _NO_POSITIONS))
            self._merged[tags] = merged
        return merged

    def count(self, tags: str | tuple[str, ...], i: int) -> int:
        """Elements with tag ``tags`` (or any of them, for a tuple) strictly
        inside ``i``'s subtree."""
        return self._count(self._tag_positions(tags), i)

    def _main_like_positions(self) -> list[int]:
        if self._main_like is None:
            root = self.els[0]
            main_like = root.tag in _MAIN_LIKE_TAGS or root.attrs.get("role") in _MAIN_LIKE_ROLES
            below = self._matches.get(self._slot[MAIN_LIKE_SELECTOR], _NO_POSITIONS)
            self._main_like = [0, *below] if main_like else below
        return self._main_like

    def count_main_like(self, i: int) -> int:
        """main/article elements or ``[role=main|article]`` strictly inside
        ``i``'s subtree."""
        return self._count(self._main_like_positions(), i)

    def in_main_like(self, i: int) -> bool:
        """True iff ``i`` or an ancestor (above ``root`` too) is main/article
        or ``[role=main|article]``: ``closest()`` of that selector."""
        if self._main_cover is None:
            starts: list[int] = []
            ends: list[int] = []
            for j in self._main_like_positions():
                if not ends or j >= ends[-1]:
                    starts.append(j)
                    ends.append(self.end[j])
            above = self.els[0].parent
            outer = above is not None and above.closest(MAIN_LIKE_SELECTOR) is not None
            self._main_cover = (starts, ends, outer)
        starts, ends, outer = self._main_cover
        if outer:
            return True
        k = bisect_right(starts, i) - 1
        return k >= 0 and i < ends[k]

    # --- link text --------------------------------------------------------------------
    def _link_levels(self) -> tuple[list[int], dict[int, list[int]]]:
        """Per position, the number of links enclosing it (itself included);
        per such level, the sorted positions of the links at that level."""
        if self._links is None:
            els, end = self.els, self.end
            depth = [0] * len(els)
            by_level: dict[int, list[int]] = {}
            open_ends: list[int] = []
            for j in range(len(els)):
                while open_ends and open_ends[-1] <= j:
                    open_ends.pop()
                if els[j].tag == "a":
                    open_ends.append(end[j])
                    by_level.setdefault(len(open_ends), []).append(j)
                depth[j] = len(open_ends)
            self._links = (depth, by_level)
        return self._links

    def _outer_links_sum(self, i: int, lv: int, measure) -> int:
        """Sum of ``measure`` over the original text of the level ``lv + 1``
        links inside ``i``'s subtree, removals ignored."""
        pos = self._links[1].get(lv + 1)
        if not pos:
            return 0
        key = (lv + 1, measure)
        sums = self._link_sums.get(key)
        if sums is None:
            text, tstart, tend = self.text, self.tstart, self.tend
            sums = [0]
            acc = 0
            for p in pos:
                acc += measure(text[tstart[p] : tend[p]])
                sums.append(acc)
            self._link_sums[key] = sums
        return sums[bisect_left(pos, self.end[i])] - sums[bisect_right(pos, i)]

    def outer_link_text_len(self, i: int, measure=len) -> int:
        """Sum of ``measure(text)`` over the outermost links strictly inside
        ``i``'s subtree (a link nested in another counts as part of it; a
        link enclosing ``i`` does not make ``i``'s links nested)."""
        depth = self._link_levels()[0]
        lv = depth[i]
        lo, hi = self._removed_inside(i)
        if lo == hi:
            return self._outer_links_sum(i, lv, measure)
        if measure is len:
            # drop each removed range's share: all of its text when it lies
            # inside one of the counted links, else its own outer links
            total = self._outer_links_sum(i, lv, len)
            for r in self._rm_starts[lo:hi]:
                if depth[r] > lv:
                    total -= self.tend[r] - self.tstart[r]
                else:
                    total -= self._outer_links_sum(r, lv, len)
            return total
        pos = self._links[1].get(lv + 1, _NO_POSITIONS)
        return sum(
            measure(self.text_of(p))
            for p in pos[bisect_right(pos, i) : bisect_left(pos, self.end[i])]
            if not self.is_removed(p)
        )
