"""DOM → Markdown serializer (the M1 stage).

The reference delegates HTML→Markdown to the Rust ``@kreuzberg/html-to-markdown``
(reference: src/utils/markdown-converter.ts:1-22, 141-142).  Its observable
contract — pinned by the reference's own tests (test/MarkdownConverter.test.ts)
— is what this module reproduces:

- ATX ``#`` headings (``headingStyle: "Atx"``)
- GFM tables **with first-row promotion to header** (test:22-47)
- fenced code blocks
- ``[text](url)`` links, ``![alt](src)`` images
- ``**bold**`` / ``*em*`` inline styles

Pure Python, no Spark imports — runs inside the Arrow-batched UDF.
"""

from __future__ import annotations

import re
import sys

from ..dom import Element, TextNode

# The block renderer recurses with ~4 frames per DOM level; real pages are
# <100 deep but adversarial input can nest thousands.  Raise the limit so
# ~5000-deep trees serialize; beyond that the converter's fallback path
# (cleaned raw HTML, reference: FetchEngine.ts:138-141) takes over.
if sys.getrecursionlimit() < 25000:
    sys.setrecursionlimit(25000)

_WS = re.compile(r"\s+")
_SPACE_RUN = re.compile(r"[ \t]{2,}")
_SPACED_NEWLINE = re.compile(r" ?\n ?")
_LEADING_NEWLINES = re.compile(r"^\n+")
_TRAILING_SPACE = re.compile(r"\s+$")

# NOTE: img is deliberately NOT inline at block level — each image becomes
# its own block so media spans interleave with text spans and carry
# media_ref through the span schema (north_rule).  Images nested inside
# links/strong/etc. still render inline via render_inline.
_INLINE_TAGS = frozenset(
    "a abbr b bdi bdo cite code data dfn em i kbd mark q s samp small span "
    "strong sub sup time u var wbr br del ins font label".split()
)

_HEADING = {f"h{i}": i for i in range(1, 7)}

_SKIP_TAGS = frozenset("script style noscript template head title meta link base".split())


def _collapse(text: str) -> str:
    return _WS.sub(" ", text)


def render_inline(node, parts: list[str]) -> None:
    if isinstance(node, TextNode):
        parts.append(_collapse(node.text))
        return
    el: Element = node
    tag = el.tag
    if tag in _SKIP_TAGS:
        return
    if tag == "br":
        parts.append("\n")
        return
    if tag == "img":
        src = el.get_attribute("src") or ""
        alt = _collapse(el.get_attribute("alt") or "").strip()
        if src:
            parts.append(f"![{alt}]({src})")
        return
    if tag == "a":
        inner = _render_children_inline(el).strip()
        href = el.get_attribute("href")
        if href:
            if inner:
                parts.append(f"[{inner}]({href})")
        elif inner:
            parts.append(inner)
        return
    if tag in ("strong", "b"):
        inner = _render_children_inline(el).strip()
        if inner:
            parts.append(f"**{inner}**")
        return
    if tag in ("em", "i"):
        inner = _render_children_inline(el).strip()
        if inner:
            parts.append(f"*{inner}*")
        return
    if tag in ("code", "kbd", "samp"):
        inner = _collapse(el.text_content).strip().replace("`", "\\`")
        if inner:
            parts.append(f"`{inner}`")
        return
    if tag in ("s", "del"):
        inner = _render_children_inline(el).strip()
        if inner:
            parts.append(f"~~{inner}~~")
        return
    # generic inline container (span, etc.) or unknown: recurse
    for ch in el.children:
        render_inline(ch, parts)


def _render_children_inline(el: Element) -> str:
    parts: list[str] = []
    for ch in el.children:
        render_inline(ch, parts)
    return _squeeze("".join(parts))


def _squeeze(s: str) -> str:
    # collapse runs of spaces but keep explicit newlines from <br>
    s = _SPACE_RUN.sub(" ", s)
    if "\n" in s:
        s = _SPACED_NEWLINE.sub("\n", s)
    return s


def _is_inline_node(node) -> bool:
    if isinstance(node, TextNode):
        return True
    return node.tag in _INLINE_TAGS


# --------------------------------------------------------------------------
# Block rendering
# --------------------------------------------------------------------------


def render_blocks(el: Element) -> list[str]:
    """Render an element's content as a list of markdown blocks."""
    blocks: list[str] = []
    _render_container(el, blocks)
    return [b for b in blocks if b.strip()]


def _flush_inline(buf: list, blocks: list[str]) -> None:
    if not buf:
        return
    parts: list[str] = []
    for n in buf:
        render_inline(n, parts)
    text = _squeeze("".join(parts)).strip()
    buf.clear()
    if text:
        blocks.append(text)


def _render_container(el: Element, blocks: list[str]) -> None:
    inline_buf: list = []
    for ch in el.children:
        if _is_inline_node(ch):
            inline_buf.append(ch)
            continue
        _flush_inline(inline_buf, blocks)
        _render_block(ch, blocks)
    _flush_inline(inline_buf, blocks)


def _render_block(el: Element, blocks: list[str]) -> None:
    tag = el.tag
    if tag in _SKIP_TAGS:
        return
    level = _HEADING.get(tag)
    if level:
        text = _render_children_inline(el).replace("\n", " ").strip()
        if text:
            blocks.append("#" * level + " " + text)
        return
    if tag == "p":
        _render_container(el, blocks)
        return
    if tag in ("ul", "ol"):
        lines = _render_list(el, ordered=(tag == "ol"), depth=0)
        if lines:
            blocks.append("\n".join(lines))
        return
    if tag == "table":
        md = _render_table(el)
        if md:
            blocks.append(md)
        return
    if tag == "pre":
        text = el.text_content
        text = _LEADING_NEWLINES.sub("", text)
        text = _TRAILING_SPACE.sub("", text)
        lang = ""
        code = el.query_selector("code")
        if code is not None:
            for tok in code.class_tokens:
                if tok.startswith("language-") or tok.startswith("lang-"):
                    lang = tok.split("-", 1)[1]
                    break
        if text:
            blocks.append(f"```{lang}\n{text}\n```")
        return
    if tag == "blockquote":
        inner: list[str] = []
        _render_container(el, inner)
        quoted = "\n\n".join(inner)
        if quoted:
            blocks.append("\n".join("> " + ln if ln else ">" for ln in quoted.split("\n")))
        return
    if tag == "hr":
        blocks.append("---")
        return
    if tag == "img":
        src = el.get_attribute("src") or ""
        alt = _collapse(el.get_attribute("alt") or "").strip()
        if src:
            blocks.append(f"![{alt}]({src})")
        return
    if tag in ("figure", "picture"):
        _render_container(el, blocks)
        return
    if tag == "figcaption":
        text = _render_children_inline(el).strip()
        if text:
            blocks.append(f"*{text}*")
        return
    if tag in ("dt", "dd"):
        text = _render_children_inline(el).strip()
        if text:
            blocks.append(text)
        return
    # generic block container: body, div, section, article, main, li outside
    # list, form, etc. — recurse treating children as mixed content.
    _render_container(el, blocks)


def _render_list(el: Element, ordered: bool, depth: int) -> list[str]:
    lines: list[str] = []
    indent = "  " * depth
    idx = 0
    for ch in el.children:
        if isinstance(ch, TextNode) or ch.tag != "li":
            continue
        idx += 1
        marker = f"{idx}. " if ordered else "- "
        # split the li into its own inline content and nested lists
        item_blocks: list[str] = []
        inline_buf: list = []
        nested: list[str] = []
        for sub in ch.children:
            if not isinstance(sub, TextNode) and sub.tag in ("ul", "ol"):
                _flush_inline(inline_buf, item_blocks)
                nested.extend(
                    _render_list(sub, ordered=(sub.tag == "ol"), depth=depth + 1)
                )
            elif _is_inline_node(sub):
                inline_buf.append(sub)
            else:
                _flush_inline(inline_buf, item_blocks)
                _render_block(sub, item_blocks)
        _flush_inline(inline_buf, item_blocks)
        text = " ".join(b.replace("\n", " ") for b in item_blocks).strip()
        lines.append(indent + marker + text)
        lines.extend(nested)
    return lines


def _cell_text(cell: Element) -> str:
    text = _render_children_inline(cell).replace("\n", " ").strip()
    return text.replace("|", "\\|")


def _render_table(table: Element) -> str:
    """GFM table with first-row promotion to header (parity:
    test/MarkdownConverter.test.ts:22-47 — headerless <tbody> tables get
    their first row promoted to the GFM header row)."""
    rows: list[list[str]] = []
    for tr in table.query_selector_all("tr"):
        # skip rows of nested tables
        anc = tr.parent
        within = False
        while anc is not None:
            if anc is table:
                within = True
                break
            if anc.tag == "table":
                break
            anc = anc.parent
        if not within:
            continue
        cells = [
            _cell_text(c)
            for c in tr.children
            if not isinstance(c, TextNode) and c.tag in ("td", "th")
        ]
        if cells:
            rows.append(cells)
    if not rows:
        return ""
    width = max(len(r) for r in rows)
    for r in rows:
        r.extend([""] * (width - len(r)))
    out = ["| " + " | ".join(rows[0]) + " |"]
    out.append("| " + " | ".join(["---"] * width) + " |")
    for r in rows[1:]:
        out.append("| " + " | ".join(r) + " |")
    return "\n".join(out)


def to_markdown(el: Element) -> str:
    """Serialize a content element to a Markdown document string."""
    return "\n\n".join(render_blocks(el))
