"""HTML → clean-Markdown converter: the full extraction chain.

Re-implements, from published behavior only, the reference's
``MarkdownConverter`` (reference: src/utils/markdown-converter.ts:126-969)
as pure Python so it can run inside one Arrow-batched ``mapInArrow`` stage.
Operator order is semantics-bearing and mirrors the reference exactly
(markdown-converter.ts:152-254):

P1 regex cleanup → P2 parse → P3 remove-selectors → P4 absolutize →
P5 svg-img drop → P6 breadcrumbs → P7 global link-density prune →
P8 title election → P9 head drop → C-A forum detect →
(C-E forum assembly | C-B semantic main | C-C scored article fallback) →
C-I html-wrapper guard → C-F content-subtree boilerplate →
C-G in-content link-density prune → C-H primary-H1 →
M1 serialize → M2–M13 postprocess (+ M14 source injection helper).

M1 lives in ``serialize``; ``extract.convert_document`` chains the stages
per document.
"""

from __future__ import annotations

import re
from urllib.parse import urljoin, urlparse

from ..dom import Element, collect_first_matches, collect_matches, parse_html, subtree_stats

# --- constants (parity: markdown-converter.ts:27-113) -----------------------

PREPROCESSING_REMOVE_SELECTORS = [
    "script",
    "style",
    "noscript",
    "iframe:not([title])",
    "svg",
    "img[src*='data:image/svg']",
    "button",
    "[role='button']",
    "input[type='button']",
    "input[type='submit']",
    "input[type='reset']",
    "#cookies",
    "[id*='cookie-banner']",
    "[id*='cookie-consent']",
    "[class*='cookie-banner']",
    "[class*='cookie-consent']",
    "[class*='consent-banner']",
]

CONTENT_SUBTREE_REMOVE_SELECTORS = [
    "nav",
    "header",
    "footer",
    "aside",
    "[role='navigation']",
    "[role='banner']",
    "[role='contentinfo']",
    "[role='complementary']",
    "[class*='navbar']",
    "[class*='site-nav']",
    "[class*='site-header']",
    "[class*='site-footer']",
    "[id*='navbar']",
    "[id*='site-header']",
    "[id*='site-footer']",
    "#footer",
    "#header",
]

MAIN_CONTENT_SELECTORS = [
    "article",
    "main",
    "[role='main']",
    "[role='article']",
    "[class*='article-body']",
    "[class*='post-content']",
    "[class*='main-content']",
    "[class*='entry-content']",
    "[id*='article-body']",
    "[id*='main-content']",
    ".article",
    ".post",
    ".entry",
    ".blog-post",
    "body",
]

FORUM_COMMENT_SELECTORS = [".comment", ".comments", ".comtr", "[id^='comment-']", "div[id^='c_']"]
FORUM_THREAD_SELECTORS = [".thread", ".post", "[id^='thread-']"]
FORUM_VOTE_SELECTORS = [".vote", ".score", ".upvote", ".downvote", ".votelinks"]
FORUM_MAIN_POST_SELECTORS = [".fatitem", ".submission", ".op", ".original-post"]
FORUM_COMMENTS_CONTAINER_SELECTORS = [".comment-tree", ".comments", "#comments"]
FORUM_OBVIOUS_NON_CONTENT_SELECTORS = ["header", "footer", ".nav", ".sidebar"]

MIN_LINK_DENSITY_TEXT_LENGTH = 50
DEFAULT_LINK_DENSITY_THRESHOLD = 0.4
MIN_FORUM_INDICATOR_COUNT = 3
POSTPROCESSING_MAX_CONSECUTIVE_NEWLINES = 2

_BREADCRUMB_SELECTORS = [
    "nav[aria-label='breadcrumb']",
    "nav[aria-label='Breadcrumb']",
    "[aria-label='breadcrumbs']",
    "[aria-label='Breadcrumbs']",
    "nav.breadcrumb",
    "nav.breadcrumbs",
    "ol.breadcrumb",
    "ul.breadcrumb",
    ".breadcrumb",
    ".breadcrumbs",
    "[itemtype*='Breadcrumb']",
    "[itemtype*='breadcrumb']",
    "[typeof*='BreadcrumbList']",
]

_NON_HTTP_SCHEME = re.compile(r"^(?:mailto:|tel:|sms:|javascript:|data:|blob:|about:|file:)", re.I)
_ABSOLUTE_SCHEME = re.compile(r"^[a-z][a-z0-9+.-]*:", re.I)
_WSRUN = re.compile(r"\s+")

_CLEANUP_HTML = [
    (re.compile(r"AMIL:\[=-,amilft[^\s]*"), ""),
    (re.compile(r"\{\{\s*[^}\s]+\s*}}"), ""),
    (re.compile(r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"), ""),
]


def _norm(s: str | None) -> str:
    return _WSRUN.sub(" ", (s or "")).strip()


def cleanup_html(html: str) -> str:
    """P1 regex scrub (parity: markdown-converter.ts:444-455)."""
    for rx, rep in _CLEANUP_HTML:
        html = rx.sub(rep, html)
    return html


# --- class-token helpers (parity: markdown-converter.ts:479-485) ------------


def _has_class(cls: str, exact: str) -> bool:
    return exact in cls.split()


def _has_class_substring(cls: str, sub: str) -> bool:
    return any(sub in tok for tok in cls.split())


def _element_matches_main_content(el: Element) -> bool:
    """Parity: elementMatchesMainContent (markdown-converter.ts:488-509)."""
    tag = el.tag
    role = (el.get_attribute("role") or "").lower()
    cls = (el.get_attribute("class") or "").lower()
    eid = (el.get_attribute("id") or "").lower()
    if tag in ("body", "main", "article"):
        return True
    if role in ("main", "article"):
        return True
    if (
        _has_class_substring(cls, "article-body")
        or _has_class_substring(cls, "post-content")
        or _has_class_substring(cls, "main-content")
        or _has_class_substring(cls, "entry-content")
        or _has_class(cls, "article")
        or _has_class(cls, "post")
        or _has_class(cls, "content")
        or _has_class(cls, "entry")
        or _has_class(cls, "blog-post")
    ):
        return True
    if "article-body" in eid or "main-content" in eid:
        return True
    return False


def _element_matches_boilerplate(el: Element) -> bool:
    """Parity: elementMatchesBoilerplate (markdown-converter.ts:512-528)."""
    tag = el.tag
    role = (el.get_attribute("role") or "").lower()
    cls = (el.get_attribute("class") or "").lower()
    if tag in ("header", "footer", "nav", "aside"):
        return True
    if role in ("navigation", "complementary", "banner"):
        return True
    for sub in ("sidebar", "widget", "menu", "nav", "header", "footer"):
        if _has_class_substring(cls, sub):
            return True
    return False


def _is_attached(el: Element, root: Element) -> bool:
    """True iff walking parents from ``el`` reaches ``root``."""
    node = el.parent
    while node is not None:
        if node is root:
            return True
        node = node.parent
    return False


def _is_within_protected_main_content(el: Element) -> bool:
    return el.closest("main, article, [role='main'], [role='article']") is not None


def _is_likely_consent_or_interstitial(el: Element) -> bool:
    eid = (el.get_attribute("id") or "").lower()
    cls = (el.get_attribute("class") or "").lower()
    if "cookie" in eid or "cookie" in cls or "consent" in cls:
        return True
    text = el.text_content.lower()
    return (
        "manage preferences" in text
        or "agree to all" in text
        or "refuse all" in text
        or "accept cookies" in text
    )


def _has_high_link_density_stats(st, threshold: float) -> bool:
    """Parity: hasHighLinkDensity (markdown-converter.ts:877-897)."""
    if st.raw_text_len < MIN_LINK_DENSITY_TEXT_LENGTH:
        return False
    if st.n_links < 3:
        return False
    if st.raw_text_len == 0:
        return False
    return st.outer_link_text_len / st.raw_text_len > threshold


_LINK_DENSITY_CANDIDATE_SELECTOR = (
    "div, nav, ul, aside, section, .sidebar, .widget, .menu, [role='navigation'], [role='menubar']"
)


def remove_high_link_density_elements(
    element: Element, threshold: float, candidates: list[Element] | None = None
) -> None:
    """P7 global link-density prune (parity: markdown-converter.ts:554-605).

    Single stats walk per candidate (raw textContent lengths, non-nested
    link text) instead of repeated selector passes."""
    if candidates is None:
        candidates = element.query_selector_all(_LINK_DENSITY_CANDIDATE_SELECTOR)
    for el in candidates:
        if _is_within_protected_main_content(el):
            continue
        if _is_likely_consent_or_interstitial(el):
            el.remove()
            continue
        st = subtree_stats(el)
        text_len = st.raw_text_len
        if text_len < MIN_LINK_DENSITY_TEXT_LENGTH:
            continue
        if st.n_links < 3:
            continue
        link_text_len = st.outer_link_text_len
        if text_len == 0:
            continue
        density = link_text_len / text_len
        if density > threshold:
            if st.n_main_like > 0:
                continue
            if _element_matches_main_content(el):
                continue
            non_link = max(0, text_len - link_text_len)
            if non_link > 200 and (st.n_h16 > 0 or st.n_p > 0):
                continue
            el.remove()


def remove_high_link_density_in_selected_content(content: Element) -> None:
    """C-G in-content prune (parity: markdown-converter.ts:306-359)."""
    for candidate in content.query_selector_all("div, section, nav, ul, ol, aside"):
        if candidate is content:
            continue
        st = subtree_stats(candidate)
        text = _norm(st.text)
        if len(text) < MIN_LINK_DENSITY_TEXT_LENGTH:
            continue
        if st.n_links < 2:
            continue
        heading_count = st.n_h16
        has_paragraph = st.n_p > 0
        has_long_paragraph = any(len(_norm(t)) >= 140 for t in st.p_texts)
        link_text_len = sum(len(_norm(t)) for t in st.outer_link_texts)
        density = link_text_len / max(1, len(text))
        non_link = max(0, len(text) - link_text_len)
        likely_utility = (
            density > 0.78
            and heading_count == 0
            and not has_paragraph
            and not has_long_paragraph
            and len(text) <= 260
            and non_link < 120
        )
        likely_related_links = (
            st.n_links >= 4
            and density > 0.82
            and heading_count == 0
            and not has_paragraph
            and not has_long_paragraph
            and len(text) <= 320
            and non_link < 80
        )
        if likely_utility or likely_related_links:
            candidate.remove()


def remove_svg_image_refs(root: Element, els: list[Element] | None = None) -> None:
    """P5 (parity: markdown-converter.ts:256-262)."""
    if els is None:
        els = root.query_selector_all("img[src]")
    for el in els:
        if ".svg" in (el.get_attribute("src") or "").lower():
            el.remove()


def remove_breadcrumbs(root: Element, els: list[Element] | None = None) -> None:
    """P6 (parity: markdown-converter.ts:264-292)."""
    if els is None:
        els = root.query_selector_all(",".join(_BREADCRUMB_SELECTORS))
    for el in els:
        nav = el.closest("nav")
        (nav or el).remove()


def remove_content_subtree_boilerplate(content: Element) -> None:
    """C-F (parity: markdown-converter.ts:294-304)."""
    for el in content.query_selector_all(",".join(CONTENT_SUBTREE_REMOVE_SELECTORS)):
        el.remove()


_ABSOLUTIZE_SELECTOR = "a[href], img[src], source[src], video[src], audio[src], track[src]"


def absolutize_relative_urls(
    root: Element, base_url: str | None, els: list[Element] | None = None
) -> None:
    """P4 (parity: markdown-converter.ts:361-407)."""
    if not base_url:
        return
    try:
        parsed = urlparse(base_url)
        if not parsed.scheme:
            return
    except ValueError:
        return
    if els is None:
        els = root.query_selector_all(_ABSOLUTIZE_SELECTOR)
    for el in els:
        for attr in ("href", "src"):
            raw = el.get_attribute(attr)
            if raw:
                resolved = _resolve_url(raw, base_url)
                if resolved:
                    el.set_attribute(attr, resolved)


def _resolve_url(raw: str, base_url: str) -> str | None:
    value = raw.strip()
    if not value:
        return None
    if _NON_HTTP_SCHEME.match(value):
        return value
    if _ABSOLUTE_SCHEME.match(value):
        return value
    try:
        return urljoin(base_url, value)
    except ValueError:
        return value


def find_semantic_main_content(root: Element) -> Element | None:
    """C-B (parity: findSemanticMainContent, markdown-converter.ts:607-635)."""
    best, best_score = None, -1.0
    for el in root.query_selector_all("main, article, [role='main'], [role='article']"):
        st = subtree_stats(el)
        text_len = len(st.text.strip())
        heading_count = st.n_h13
        image_count = st.n_img + st.n_figure + st.n_video
        paragraph_count = st.n_p
        if text_len < 120 and heading_count == 0 and image_count == 0:
            continue
        score = float(text_len)
        if heading_count > 0:
            score += 150
        if paragraph_count > 1:
            score += 75
        if image_count > 0:
            score += 40
        if score > best_score:
            best_score, best = score, el
    return best


def detect_forum_page(root: Element) -> bool:
    """C-A (parity: detectForumPage, markdown-converter.ts:637-692)."""

    all_sels = (
        list(FORUM_COMMENT_SELECTORS)
        + list(FORUM_THREAD_SELECTORS)
        + list(FORUM_VOTE_SELECTORS)
        # canonical-URL sources folded into the same walk (first match in
        # document order == query_selector)
        + ["link[rel='canonical']", "meta[property='og:url']"]
    )
    matches = collect_matches(root, all_sels)
    nc, nt = len(FORUM_COMMENT_SELECTORS), len(FORUM_THREAD_SELECTORS)
    nv = len(FORUM_VOTE_SELECTORS)
    comment_count = sum(len(m) for m in matches[:nc])
    thread_count = sum(len(m) for m in matches[nc : nc + nt])
    vote_count = sum(len(m) for m in matches[nc + nt : nc + nt + nv])

    is_known_forum_host = False
    canonical = None
    links, ogs = matches[nc + nt + nv], matches[nc + nt + nv + 1]
    if links:
        canonical = links[0].get_attribute("href")
    if not canonical and ogs:
        canonical = ogs[0].get_attribute("content")
    if canonical:
        try:
            hostname = (urlparse(urljoin("http://example.com", canonical)).hostname or "").lower()
            is_known_forum_host = any(
                h in hostname
                for h in ("reddit.com", "news.ycombinator.com", "forum", "discuss", "community")
            )
        except ValueError:
            pass

    return (
        comment_count >= MIN_FORUM_INDICATOR_COUNT
        or thread_count > 1
        or vote_count >= MIN_FORUM_INDICATOR_COUNT
        or is_known_forum_host
    )


def _calculate_element_score(el: Element, current_max: float) -> float:
    """Parity: _calculateElementScore (markdown-converter.ts:703-743)."""
    st = subtree_stats(el)
    text_len = len(st.text.strip())
    has_media = (st.n_img + st.n_video + st.n_iframe + st.n_figure) > 0
    if text_len < 100 and not has_media:
        return -1.0
    score = float(text_len)
    if el.tag in ("article", "main"):
        score *= 1.5
    if (el.get_attribute("role") or "") in ("main", "article"):
        score *= 1.5
    if el.tag in ("header", "footer", "nav", "aside"):
        score *= 0.3
    if _element_matches_boilerplate(el):
        score *= 0.2
    if _has_high_link_density_stats(st, 0.6):
        score *= 0.5
    if st.n_p > 2:
        score *= 1.2
    if el.tag == "body" and current_max > 200:
        return -1.0
    return score


def extract_article_content_element(root: Element) -> Element:
    """C-C (parity: extractArticleContentElement, markdown-converter.ts:750-784)."""
    semantic = find_semantic_main_content(root)
    if semantic is not None:
        return semantic
    best, max_score = None, -1.0
    for els in collect_matches(root, list(MAIN_CONTENT_SELECTORS)):
        for el in els:
            score = _calculate_element_score(el, max_score)
            if score > max_score:
                max_score, best = score, el
    return best if best is not None else root


def extract_forum_content_element(root: Element) -> Element:
    """C-E (parity: extractForumContentElement, markdown-converter.ts:790-872)."""
    temp = Element("div")

    firsts = collect_first_matches(
        root, list(FORUM_MAIN_POST_SELECTORS) + list(FORUM_COMMENTS_CONTAINER_SELECTORS)
    )
    main_firsts = firsts[: len(FORUM_MAIN_POST_SELECTORS)]
    comment_firsts = firsts[len(FORUM_MAIN_POST_SELECTORS) :]
    main_post = next((el for el in main_firsts if el is not None), None)
    if main_post is not None:
        temp.append_child(main_post.clone())

    comments = next((el for el in comment_firsts if el is not None), None)
    if comments is not None:
        cloned = comments.clone()
        for sel in FORUM_OBVIOUS_NON_CONTENT_SELECTORS:
            for el in cloned.query_selector_all(sel):
                el.remove()
        temp.append_child(cloned)

    if temp.children:
        return temp

    body = root.query_selector("body")
    if body is not None:
        cloned_body = body.clone()
        for sel in FORUM_OBVIOUS_NON_CONTENT_SELECTORS:
            for el in cloned_body.query_selector_all(sel):
                el.remove()
        remove_high_link_density_elements(cloned_body, DEFAULT_LINK_DENSITY_THRESHOLD)
        return cloned_body
    return root


def ensure_primary_heading(content: Element, provided_title: str | None) -> None:
    """C-H (parity: ensurePrimaryHeading, markdown-converter.ts:410-442)."""
    title_norm = _norm(provided_title)
    first_h1, first_heading = collect_first_matches(
        content, ["h1", "h1, h2, h3, h4, h5, h6"]
    )
    h1_text = _norm(first_h1.text_content if first_h1 is not None else "")

    if first_h1 is not None:
        if (
            title_norm
            and len(title_norm) > len(h1_text)
            and (
                h1_text in title_norm
                or title_norm.split("|")[0].strip() in h1_text
            )
        ):
            first_h1.set_text(provided_title or "")
        return

    if title_norm:
        h1 = Element("h1")
        h1.set_text(provided_title or "")
        content.prepend(h1)
        return

    if first_heading is not None:
        first_heading.tag = "h1"


def elect_title(root: Element) -> str:
    """P8 title election (parity: markdown-converter.ts:200-205).
    One walk for all four candidate selectors (priority = list order)."""
    og, tw, dc, t = collect_first_matches(
        root,
        [
            "meta[property='og:title']",
            "meta[name='twitter:title']",
            "meta[name='DC.title']",
            "title",
        ],
    )
    for el in (og, tw, dc):
        if el is not None:
            v = el.get_attribute("content")
            if v is not None:
                return v
    if t is not None:
        return t.text_content
    return ""


# --- C-J content-HTML cleanup (string-level; the attribute noise it strips
# never reaches our serializer, so only the text-level effects are applied
# by the serializer's whitespace collapsing).  Kept for the raw-HTML
# fallback path (parity: cleanupContentHtml, markdown-converter.ts:457-476).

_CLEANUP_CONTENT = [
    (re.compile(r"""\s*data-(?:reactid|reactroot|react-|testid|v-|js-|qa-|cy-)[^=\s]*\s*=\s*(?:"[^"]*"|'[^']*'|\S+)"""), ""),
    (re.compile(r"""\s*ng-[^=\s]*\s*=\s*(?:"[^"]*"|'[^']*'|\S+)"""), ""),
    (re.compile(r'\s*_ngcontent-[^\s]*\s*=""'), ""),
    (re.compile(r'\s*class\s*=\s*"(ng-|mat-)[^"]*"'), ""),
    (re.compile(r"<!--[\s\S]*?-->"), ""),
    (re.compile(r"([ \t])+"), " "),
    (re.compile(r"\s*\n\s*"), "\n"),
]


def cleanup_content_html(content: str) -> str:
    for rx, rep in _CLEANUP_CONTENT:
        content = rx.sub(rep, content)
    return content.strip()


# --------------------------------------------------------------------------
# Markdown postprocessing (M2–M13; parity: postprocessMarkdown,
# markdown-converter.ts:901-958)
# --------------------------------------------------------------------------

_M2_HEADING = re.compile(r"^(\s*\n)?(#{1,6}\s.*)$", re.M)
_M3_LIST = re.compile(r"^(\s*\n)?(([*\-+>]|\d+\.)\s)", re.M)
_M4_EMPTY_LINK = re.compile(r"\[\]\([^)]*\)")
_M4_EMPTY_IMG = re.compile(r"!\[\]\([^)]*\)")
_M5_PROTO_REL = re.compile(r"(!?\[[^\]]*\]\()(//)")
_M6_ADJ_LINK = re.compile(r"(\]\([^)]+\))(?=\[)")
_M8_NEWLINES = re.compile(r"\n{3,}")
_M9_LINE_TRIM = re.compile(r"^[ \t]+|[ \t]+$", re.M)
_M10_CODE = re.compile(r"^(\s*\n)?(```(.*)\n[\s\S]*?\n```)(\s*\n)?", re.M)
_M11_DUP_LINE = re.compile(r"^(.{30,})$(\n\1)+", re.M)
_M12_META_SEP = re.compile(r"(\n---\n)(\S)")
_LINK_RUN = re.compile(r"\[[^\]]*]\([^)]+\)")
_LINK_SPLIT = re.compile(r"(\]\([^)]+\))\s*(?=\[)")


def _split_dense_adjacent_link_runs(markdown: str) -> str:
    """M7 (parity: splitDenseAdjacentLinkRuns, markdown-converter.ts:960-969)."""
    out = []
    for line in markdown.split("\n"):
        runs = _LINK_RUN.findall(line)
        if len(runs) < 3 or len(line) < 180:
            out.append(line)
        else:
            out.append(_LINK_SPLIT.sub(r"\1\n", line))
    return "\n".join(out)


def postprocess_markdown(markdown: str, max_content_length: int | None = None) -> str:
    p = markdown
    p = _M2_HEADING.sub(r"\n\n\2\n\n", p)
    p = _M3_LIST.sub(r"\n\n\2", p)
    p = _M4_EMPTY_LINK.sub("", p)
    p = _M4_EMPTY_IMG.sub("", p)
    p = _M5_PROTO_REL.sub(r"\1https://", p)
    p = _M6_ADJ_LINK.sub(r"\1 ", p)
    p = _split_dense_adjacent_link_runs(p)
    p = _M8_NEWLINES.sub("\n" * POSTPROCESSING_MAX_CONSECUTIVE_NEWLINES, p)
    p = _M9_LINE_TRIM.sub("", p)
    p = _M10_CODE.sub(r"\n\n\2\n\n", p)
    p = _M8_NEWLINES.sub("\n" * POSTPROCESSING_MAX_CONSECUTIVE_NEWLINES, p)
    p = _M11_DUP_LINE.sub(r"\1", p)
    p = _M12_META_SEP.sub(r"\1\n\2", p)
    if max_content_length and len(p) > max_content_length:
        truncated_point = p.rfind(".", 0, max(0, max_content_length - 15))
        slice_end = (
            truncated_point + 1
            if truncated_point > max_content_length / 2
            else max_content_length
        )
        p = p[:slice_end] + "... (truncated)"
    return p.strip()


_SOURCE_LINE = re.compile(r"^Source:\s+", re.M)
_FIRST_H1 = re.compile(r"^(\s*#\s.*)$", re.M)


def inject_source_url(markdown: str, source_url: str | None) -> str:
    """M14 (parity: injectSourceUrl, markdown-converter.ts:973-979)."""
    if not markdown or not source_url:
        return markdown
    head = "\n".join(markdown.split("\n")[:50])
    if _SOURCE_LINE.search(head):
        return markdown
    return _FIRST_H1.sub(rf"\1\n\nSource: {source_url.strip()}", markdown, count=1)


# --------------------------------------------------------------------------
# The converter
# --------------------------------------------------------------------------


class MarkdownConverter:
    """Boilerplate stripping and content selection, P1–C-H
    (reference-parity).  The full chain, serialization and postprocess
    included, is ``extract.convert_document``."""

    def preprocess(
        self, html: str, base_url: str | None = None
    ) -> tuple[Element | str, str]:
        """Run P1–C-H; returns (content element | fallback string, title)."""
        try:
            html = cleanup_html(html)
            root = parse_html(html)

            # P3–P7 candidates in ONE tree walk.  Application order is the
            # reference's; the only timing delta vs per-pass collection is
            # that later passes may see elements an earlier pass detached —
            # unobservable for P4/P5/P6 (rewriting or re-removing a detached
            # node never reaches the output; a detached node's closest()
            # chain stays inside its detached subtree), and P7 re-snapshots
            # attachment explicitly below, exactly reproducing a fresh
            # post-P6 collection.
            pre_els, abs_els, svg_els, bc_els, density_els = collect_matches(
                root,
                [
                    ",".join(PREPROCESSING_REMOVE_SELECTORS),
                    _ABSOLUTIZE_SELECTOR,
                    "img[src]",
                    ",".join(_BREADCRUMB_SELECTORS),
                    _LINK_DENSITY_CANDIDATE_SELECTOR,
                ],
            )
            for el in pre_els:
                el.remove()

            absolutize_relative_urls(root, base_url, els=abs_els)
            remove_svg_image_refs(root, els=svg_els)
            remove_breadcrumbs(root, els=bc_els)
            attached = [el for el in density_els if _is_attached(el, root)]
            remove_high_link_density_elements(
                root, DEFAULT_LINK_DENSITY_THRESHOLD, candidates=attached
            )

            best_title = elect_title(root)
            head = root.query_selector("head")
            if head is not None:
                head.remove()

            if detect_forum_page(root):
                content = extract_forum_content_element(root)
            else:
                content = extract_article_content_element(root)

            if content.tag == "html":
                body = root.query_selector("body")
                if body is not None:
                    content = body

            remove_content_subtree_boilerplate(content)
            remove_high_link_density_in_selected_content(content)
            ensure_primary_heading(content, best_title)
            return content, best_title
        except Exception:
            return cleanup_content_html(cleanup_html(html)), ""
