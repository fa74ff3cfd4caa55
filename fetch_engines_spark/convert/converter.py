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

from ..dom import MAIN_LIKE_SELECTOR, DocIndex, Element, collect_matches, parse_html

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


def _norm_len(s: str) -> int:
    return len(_norm(s))


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


def _is_likely_consent_or_interstitial(idx: DocIndex, i: int) -> bool:
    el = idx.els[i]
    eid = (el.get_attribute("id") or "").lower()
    cls = (el.get_attribute("class") or "").lower()
    if "cookie" in eid or "cookie" in cls or "consent" in cls:
        return True
    return idx.lower_text_contains(i, _CONSENT_PHRASES)


_CONSENT_PHRASES = ("manage preferences", "agree to all", "refuse all", "accept cookies")


def _has_high_link_density(idx: DocIndex, i: int, threshold: float) -> bool:
    """Parity: hasHighLinkDensity (markdown-converter.ts:877-897)."""
    text_len = idx.text_len(i)
    if text_len < MIN_LINK_DENSITY_TEXT_LENGTH:
        return False
    if idx.count("a", i) < 3:
        return False
    return idx.outer_link_text_len(i) / text_len > threshold


_LINK_DENSITY_CANDIDATE_SELECTOR = (
    "div, nav, ul, aside, section, .sidebar, .widget, .menu, [role='navigation'], [role='menubar']"
)
_H16 = ("h1", "h2", "h3", "h4", "h5", "h6")
_H13 = ("h1", "h2", "h3")
_VISUAL_MEDIA = ("img", "figure", "video")
_MEDIA = ("img", "video", "iframe", "figure")


def remove_high_link_density_elements(idx: DocIndex, threshold: float) -> None:
    """P7 global link-density prune (parity: markdown-converter.ts:554-605).

    Candidates come from ``idx`` in document order, as the reference
    collects them; one inside a subtree pruned before it is skipped, since
    it could only touch detached nodes.  The index gives each one's raw
    textContent length, non-nested link text and protected-main-content
    ancestor fact without a walk."""
    for i in idx.matches(_LINK_DENSITY_CANDIDATE_SELECTOR):
        if idx.is_removed(i) or idx.in_main_like(i):
            continue
        if _is_likely_consent_or_interstitial(idx, i):
            idx.remove(i)
            continue
        text_len = idx.text_len(i)
        if text_len < MIN_LINK_DENSITY_TEXT_LENGTH:
            continue
        if idx.count("a", i) < 3:
            continue
        link_text_len = idx.outer_link_text_len(i)
        density = link_text_len / text_len
        if density > threshold:
            if idx.count_main_like(i) > 0:
                continue
            if _element_matches_main_content(idx.els[i]):
                continue
            non_link = max(0, text_len - link_text_len)
            if non_link > 200 and (idx.count(_H16, i) > 0 or idx.count("p", i) > 0):
                continue
            idx.remove(i)


_CONTENT_LINK_DENSITY_CANDIDATE_SELECTOR = "div, section, nav, ul, ol, aside"
_NORM_PREFIX = 512


def remove_high_link_density_in_selected_content(idx: DocIndex, content: int) -> None:
    """C-G in-content prune (parity: markdown-converter.ts:306-359) below
    position ``content`` of ``idx``, in document order as in P7.

    The reference also requires no paragraph of 140+ characters; that
    cannot fail once there is no paragraph at all, so it is not computed.
    The cheap count tests run first: every test only skips the candidate."""
    for i in idx.matches(_CONTENT_LINK_DENSITY_CANDIDATE_SELECTOR, content):
        if idx.is_removed(i):
            continue
        n_links = idx.count("a", i)
        if n_links < 2 or idx.count(_H16, i) > 0 or idx.count("p", i) > 0:
            continue
        raw_len = idx.text_len(i)
        if raw_len < MIN_LINK_DENSITY_TEXT_LENGTH:
            continue  # normalizing never lengthens a text
        # a prefix's normalized length bounds the whole text's from below
        text_len = len(_norm(idx.text_of(i, _NORM_PREFIX)))
        if text_len <= 320 and raw_len > _NORM_PREFIX:
            text_len = len(_norm(idx.text_of(i)))
        if text_len < MIN_LINK_DENSITY_TEXT_LENGTH or text_len > 320:
            continue
        link_text_len = idx.outer_link_text_len(i, _norm_len)
        density = link_text_len / text_len
        non_link = max(0, text_len - link_text_len)
        likely_utility = density > 0.78 and text_len <= 260 and non_link < 120
        likely_related_links = n_links >= 4 and density > 0.82 and non_link < 80
        if likely_utility or likely_related_links:
            idx.remove(i)


def remove_svg_image_refs(els: list[Element]) -> None:
    """P5 (parity: markdown-converter.ts:256-262) over the ``img[src]``
    elements ``els``."""
    for el in els:
        if ".svg" in (el.get_attribute("src") or "").lower():
            el.remove()


def remove_breadcrumbs(els: list[Element]) -> None:
    """P6 (parity: markdown-converter.ts:264-292) over the breadcrumb
    matches ``els``."""
    for el in els:
        nav = el.closest("nav")
        (nav or el).remove()


_CONTENT_SUBTREE_REMOVE = ",".join(CONTENT_SUBTREE_REMOVE_SELECTORS)


def remove_content_subtree_boilerplate(idx: DocIndex, content: int) -> None:
    """C-F (parity: markdown-converter.ts:294-304) below position
    ``content`` of ``idx``."""
    for i in idx.matches(_CONTENT_SUBTREE_REMOVE, content):
        if not idx.is_removed(i):
            idx.remove(i)


_ABSOLUTIZE_SELECTOR = "a[href], img[src], source[src], video[src], audio[src], track[src]"


def absolutize_relative_urls(els: list[Element], base_url: str | None) -> None:
    """P4 (parity: markdown-converter.ts:361-407) over the
    ``_ABSOLUTIZE_SELECTOR`` matches ``els``."""
    if not base_url:
        return
    try:
        parsed = urlparse(base_url)
        if not parsed.scheme:
            return
    except ValueError:
        return
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


def find_semantic_main_content(idx: DocIndex) -> int | None:
    """C-B (parity: findSemanticMainContent, markdown-converter.ts:607-635)."""
    best, best_score = None, -1.0
    for i in idx.matches(MAIN_LIKE_SELECTOR):
        text_len = idx.stripped_len(i)
        heading_count = idx.count(_H13, i)
        image_count = idx.count(_VISUAL_MEDIA, i)
        paragraph_count = idx.count("p", i)
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
            best_score, best = score, i
    return best


_FORUM_INDICATOR_SELECTORS = (
    FORUM_COMMENT_SELECTORS + FORUM_THREAD_SELECTORS + FORUM_VOTE_SELECTORS
)
_CANONICAL_SELECTORS = ["link[rel='canonical']", "meta[property='og:url']"]


def detect_forum_page(idx: DocIndex) -> bool:
    """C-A (parity: detectForumPage, markdown-converter.ts:637-692)."""
    comment_count = thread_count = vote_count = 0
    for s in FORUM_COMMENT_SELECTORS:
        comment_count += len(idx.matches(s))
    for s in FORUM_THREAD_SELECTORS:
        thread_count += len(idx.matches(s))
    for s in FORUM_VOTE_SELECTORS:
        vote_count += len(idx.matches(s))

    is_known_forum_host = False
    canonical = None
    links, ogs = (idx.matches(s) for s in _CANONICAL_SELECTORS)
    if links:
        canonical = idx.els[links[0]].get_attribute("href")
    if not canonical and ogs:
        canonical = idx.els[ogs[0]].get_attribute("content")
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


def _calculate_element_score(idx: DocIndex, i: int, current_max: float) -> float:
    """Parity: _calculateElementScore (markdown-converter.ts:703-743)."""
    el = idx.els[i]
    text_len = idx.stripped_len(i)
    has_media = idx.count(_MEDIA, i) > 0
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
    if _has_high_link_density(idx, i, 0.6):
        score *= 0.5
    if idx.count("p", i) > 2:
        score *= 1.2
    if el.tag == "body" and current_max > 200:
        return -1.0
    return score


def extract_article_content_element(idx: DocIndex) -> Element:
    """C-C (parity: extractArticleContentElement, markdown-converter.ts:750-784)."""
    semantic = find_semantic_main_content(idx)
    if semantic is not None:
        return idx.els[semantic]
    best, max_score = 0, -1.0
    for sel in MAIN_CONTENT_SELECTORS:
        for i in idx.matches(sel):
            score = _calculate_element_score(idx, i, max_score)
            if score > max_score:
                max_score, best = score, i
    return idx.els[best]


_FORUM_OBVIOUS_NON_CONTENT = ",".join(FORUM_OBVIOUS_NON_CONTENT_SELECTORS)


def extract_forum_content_element(idx: DocIndex) -> Element:
    """C-E (parity: extractForumContentElement, markdown-converter.ts:790-872)."""
    temp = Element("div")

    def first_of(selectors: list[str]) -> int | None:
        # the first selector (in list order) that matches, at its first match
        return next((p for p in map(idx.first, selectors) if p is not None), None)

    main_post = first_of(FORUM_MAIN_POST_SELECTORS)
    if main_post is not None:
        temp.append_child(idx.els[main_post].clone())

    comments = first_of(FORUM_COMMENTS_CONTAINER_SELECTORS)
    if comments is not None:
        cloned = idx.els[comments].clone()
        for el in cloned.query_selector_all(_FORUM_OBVIOUS_NON_CONTENT):
            el.remove()
        temp.append_child(cloned)

    if temp.children:
        return temp

    body = idx.first("body")
    if body is not None:
        cloned_body = idx.els[body].clone()
        for el in cloned_body.query_selector_all(_FORUM_OBVIOUS_NON_CONTENT):
            el.remove()
        remove_high_link_density_elements(
            DocIndex(cloned_body, (_LINK_DENSITY_CANDIDATE_SELECTOR,)),
            DEFAULT_LINK_DENSITY_THRESHOLD,
        )
        return cloned_body
    return idx.els[0]


_HEADINGS = "h1, h2, h3, h4, h5, h6"


def ensure_primary_heading(idx: DocIndex, content: int, provided_title: str | None) -> None:
    """C-H (parity: ensurePrimaryHeading, markdown-converter.ts:410-442)
    below position ``content`` of ``idx``."""
    title_norm = _norm(provided_title)
    first_h1 = idx.first("h1", content)
    first_heading = idx.first(_HEADINGS, content)
    h1_text = _norm(idx.text_of(first_h1) if first_h1 is not None else "")

    if first_h1 is not None:
        if (
            title_norm
            and len(title_norm) > len(h1_text)
            and (
                h1_text in title_norm
                or title_norm.split("|")[0].strip() in h1_text
            )
        ):
            idx.els[first_h1].set_text(provided_title or "")
        return

    if title_norm:
        h1 = Element("h1")
        h1.set_text(provided_title or "")
        idx.els[content].prepend(h1)
        return

    if first_heading is not None:
        idx.els[first_heading].tag = "h1"


_TITLE_META_SELECTORS = [
    "meta[property='og:title']",
    "meta[name='twitter:title']",
    "meta[name='DC.title']",
]


def elect_title(idx: DocIndex) -> str:
    """P8 title election (parity: markdown-converter.ts:200-205): the first
    of each meta selector in priority order, then ``title``."""
    for sel in _TITLE_META_SELECTORS:
        i = idx.first(sel)
        if i is not None:
            v = idx.els[i].get_attribute("content")
            if v is not None:
                return v
    i = idx.first("title")
    if i is not None:
        return idx.text_of(i)
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
_M10_CODE = re.compile(r"^(\s*\n)?(```(.*)\n[\s\S]*?\n```)(\s*\n)?", re.M)
_M11_DUP_LINE = re.compile(r"^(.{30,})$(\n\1)+", re.M)
_M12_META_SEP = re.compile(r"(\n---\n)(\S)")
_LINK_RUN = re.compile(r"\[[^\]]*]\([^)]+\)")
_LINK_SPLIT = re.compile(r"(\]\([^)]+\))\s*(?=\[)")


def _split_dense_adjacent_link_runs(markdown: str) -> str:
    """M7 (parity: splitDenseAdjacentLinkRuns, markdown-converter.ts:960-969)."""
    out = []
    for line in markdown.split("\n"):
        if len(line) < 180 or len(_LINK_RUN.findall(line)) < 3:
            out.append(line)
        else:
            out.append(_LINK_SPLIT.sub(r"\1\n", line))
    return "\n".join(out)


def postprocess_markdown(markdown: str, max_content_length: int | None = None) -> str:
    """M2–M13.  A step whose pattern needs a substring the text lacks is
    skipped (its substitution would be the identity), and M9 strips each
    line, which is what its regex does."""
    p = markdown
    if "#" in p:
        p = _M2_HEADING.sub(r"\n\n\2\n\n", p)
    p = _M3_LIST.sub(r"\n\n\2", p)
    if "[]" in p:
        p = _M4_EMPTY_LINK.sub("", p)
        p = _M4_EMPTY_IMG.sub("", p)
    if "](//" in p:
        p = _M5_PROTO_REL.sub(r"\1https://", p)
    if ")[" in p:
        p = _M6_ADJ_LINK.sub(r"\1 ", p)
    if len(p) >= 180:
        p = _split_dense_adjacent_link_runs(p)
    if "\n\n\n" in p:
        p = _M8_NEWLINES.sub("\n" * POSTPROCESSING_MAX_CONSECUTIVE_NEWLINES, p)
    p = "\n".join([line.strip(" \t") for line in p.split("\n")])  # M9
    if "```" in p:
        p = _M10_CODE.sub(r"\n\n\2\n\n", p)
    if "\n\n\n" in p:
        p = _M8_NEWLINES.sub("\n" * POSTPROCESSING_MAX_CONSECUTIVE_NEWLINES, p)
    p = _M11_DUP_LINE.sub(r"\1", p)
    if "\n---\n" in p:
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
        """Run P1–C-H; returns (content element | fallback string, title).

        P3–P6 take their elements from one ``collect_matches`` walk.  Every
        later stage queries a ``DocIndex``: one built after P6, rebuilt
        after P9 if P7 pruned anything and over the content after C-F if
        anything inside it is gone; forum content (a clone) gets an index
        of its own.  An index answers for removed elements too, but a
        subtree query steps over each removed range inside the subtree, so
        the stages that score every candidate (P7, C-A–C-C, C-G) start on
        an index with none: P7 and C-G prune in document order, and a
        candidate is reached before anything inside it is removed."""
        try:
            html = cleanup_html(html)
            root = parse_html(html)

            # P3–P6 elements from ONE walk, applied in the reference's
            # order.  A later pass may see an element an earlier pass
            # detached; rewriting or re-removing it never reaches the
            # output, and its closest() chain stays inside its detached
            # subtree.
            pre_els, abs_els, svg_els, bc_els = collect_matches(
                root,
                [
                    _PREPROCESSING_REMOVE,
                    _ABSOLUTIZE_SELECTOR,
                    "img[src]",
                    _BREADCRUMBS,
                ],
            )
            for el in pre_els:
                el.remove()
            absolutize_relative_urls(abs_els, base_url)
            remove_svg_image_refs(svg_els)
            remove_breadcrumbs(bc_els)

            idx = DocIndex(root, _DOCUMENT_SELECTORS)
            remove_high_link_density_elements(idx, DEFAULT_LINK_DENSITY_THRESHOLD)
            best_title = elect_title(idx)
            pruned = idx.has_removed_inside(0)
            head = idx.first("head")
            if head is not None:
                idx.remove(head)
            if pruned:
                idx = DocIndex(root, _DOCUMENT_SELECTORS)

            if detect_forum_page(idx):
                content = extract_forum_content_element(idx)
            else:
                content = extract_article_content_element(idx)

            if content.tag == "html":
                body = idx.first("body")
                if body is not None:
                    content = idx.els[body]

            pos = idx.position(content)
            if pos is None:
                idx, pos = DocIndex(content, _CONTENT_SELECTORS), 0
            remove_content_subtree_boilerplate(idx, pos)
            if idx.has_removed_inside(pos):
                idx, pos = DocIndex(content, _CONTENT_SELECTORS), 0
            remove_high_link_density_in_selected_content(idx, pos)
            ensure_primary_heading(idx, pos, best_title)
            return content, best_title
        except Exception:
            return cleanup_content_html(cleanup_html(html)), ""


_PREPROCESSING_REMOVE = ",".join(PREPROCESSING_REMOVE_SELECTORS)
_BREADCRUMBS = ",".join(_BREADCRUMB_SELECTORS)
# the selector lists the content stages (C-F, C-G, C-H) query
_CONTENT_SELECTORS = (
    _CONTENT_SUBTREE_REMOVE,
    _CONTENT_LINK_DENSITY_CANDIDATE_SELECTOR,
    "h1",
    _HEADINGS,
)
# the selector lists every stage from P7 on queries
_DOCUMENT_SELECTORS = tuple(
    dict.fromkeys(
        [_LINK_DENSITY_CANDIDATE_SELECTOR, *_TITLE_META_SELECTORS, "title", "head"]
        + _FORUM_INDICATOR_SELECTORS
        + _CANONICAL_SELECTORS
        + [MAIN_LIKE_SELECTOR]
        + MAIN_CONTENT_SELECTORS
        + FORUM_MAIN_POST_SELECTORS
        + FORUM_COMMENTS_CONTAINER_SELECTORS
        + list(_CONTENT_SELECTORS)
    )
)
