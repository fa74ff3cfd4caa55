"""Fixture corpus: the reference's own test pages as `documents` rows.

Pages F01–F09 are the in-line HTML documents from the reference's
MarkdownConverter test suite (reference: test/MarkdownConverter.test.ts —
cited per fixture); F10–F18 come from test/RenderDetection.test.ts.  They
are the span-sequence-equality oracle per FIXTURES.md.

Synthesis rules (FIXTURES.md): each HTML page becomes one row of
``documents(doc_id, base_url, canonical_url, spans)`` where the page is split
into spans at top-level element boundaries (``kind='html'``, sequential
``offset``) and every ``img[src]`` / ``video[src]`` / ``iframe[title]``
additionally yields an interleaved ``kind='image'``/``'media'`` span carrying
``media_ref``.  Deterministic, seed-free.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

# --------------------------------------------------------------------------
# F01–F09: extraction fixtures (test/MarkdownConverter.test.ts)
# --------------------------------------------------------------------------

F01_TABLE = """<table>
<tbody>
<tr>
<td><strong>Position</strong></td>
<td><strong>Weekly Pay Rate</strong></td>
<td><strong>Plus 16% Superannuation</strong></td>
<td><strong>Total Weekly Remuneration*</strong></td>
</tr>
<tr>
<td>Apprentice - under 18 years^</td>
<td>$722.16</td>
<td>$115.55</td>
<td>$837.71</td>
</tr>
</tbody>
</table>"""

F02_COMMERCE = """
      <body>
        <div id="cookies" class="content">
          <p>By continuing your navigation on this website, you accept the use of cookies for statistical purposes.</p>
          <button>Manage preferences</button>
          <button>Refuse all</button>
          <button>Agree to all</button>
        </div>
        <nav class="content">
          <a href="/login">Account / Login</a>
        </nav>
        <main>
          <div id="item" class="content threeColumns">
            <div class="middle">
              <div class="title">
                <h1><span><a href="/artist/romar">Romar</a></span></h1>
                <h2>Harmonie Ephémère EP</h2>
              </div>
              <div class="specs">
                <p><span><a href="/label/rora">RORA </a>(RORA005)</span></p>
                <div class="formats"><span>1x Vinyl</span><span>12"</span><span>EP</span></div>
                <div class="styles">
                  <a href="/genre/electronic">Electronic</a>
                  <a href="/style/tech-house">Tech House</a>
                  <a href="/style/minimal">Minimal</a>
                </div>
                <p>Release date: 11 Jun 2013<a href="/country/switzerland">, Switzerland</a></p>
              </div>
            </div>
            <div class="right">
              <div class="buyButton itemButton available">
                <span class="price">$32</span>
                <span>Add to basket</span>
                <div class="option media"><span class="media">Media: </span><span class="value">Very Good Plus (VG+)</span></div>
              </div>
            </div>
          </div>
        </main>
      </body>"""

F03_NESTED_NAV = """
      <body>
        <main>
          <nav>
            <a href="/products">Browse products</a>
            <a href="/about">About</a>
          </nav>
          <article>
            <h1>Primed flatsheets & weatherboards - Shingles/Rubix</h1>
            <p>Upfront Carbon Emissions</p>
            <p>2.20 kg CO2e / kg (A1-A3)</p>
          </article>
          <footer>
            <p>Get Rebuilt updates</p>
            <a href="/privacy-policy">Privacy Policy</a>
          </footer>
        </main>
      </body>"""

F04_RELATIVE_URLS = """
      <body>
        <main>
          <h1>Product Page</h1>
          <a href="/product/94879ca7-40f2-4a13-8c72-f0f941220132">Classic</a>
          <a href="../about-us">About</a>
          <a href="https://example.org/external">External</a>
          <a href="mailto:team@example.org">Email</a>
          <img src="/images/product.png" alt="Product image" />
        </main>
      </body>"""

F05_BUTTONS = """
      <body>
        <main>
          <h1>Product Title</h1>
          <button>Add to shortlist</button>
          <button>Log in</button>
          <p>Upfront Carbon Emissions: 2.20 kg CO2e</p>
        </main>
      </body>"""

F06_DENSE_LINKS = """
      <body>
        <main>
          <h2>Links</h2>
          <p><a href="/p/one">One product with a long descriptive title</a><a href="/p/two">Two product with a long descriptive title</a><a href="/p/three">Three product with a long descriptive title</a> supporting context text so this remains part of the main article body.</p>
        </main>
      </body>"""

F07_HEADING_LINKS = """
      <body>
        <main>
          <section>
            <h2>Recent News</h2>
            <a href="/news/1">Launch update</a>
            <a href="/news/2">Research update</a>
            <a href="/news/3">Safety update</a>
          </section>
        </main>
      </body>"""

F08_DOCS_SIDEBAR = """
      <body>
        <div class="layout-wrapper">
          <div class="sidebar">
            <nav>
              <a href="/docs/a">Getting Started</a>
              <a href="/docs/b">Configuration</a>
              <a href="/docs/c">Plugins</a>
              <a href="/docs/d">API Reference</a>
              <a href="/docs/e">Migration Guide</a>
              <a href="/docs/f">FAQ</a>
            </nav>
          </div>
          <div class="docs-content">
            <h1>Getting Started</h1>
            <p>Install the package using your preferred package manager. This guide walks you through
               setting up the project from scratch, including configuration and first steps.</p>
            <h2>Installation</h2>
            <p>Run the following command to install the dependencies needed for the project.</p>
            <pre><code>npm install my-framework</code></pre>
            <h2>Configuration</h2>
            <p>Create a configuration file in your project root with the following content to get started.</p>
          </div>
        </div>
      </body>"""

F09_SHARED_CONTAINER = """
      <body>
        <div class="page">
          <div class="top-nav">
            <a href="/">Home</a>
            <a href="/docs">Docs</a>
            <a href="/api">API</a>
            <a href="/blog">Blog</a>
            <a href="/community">Community</a>
          </div>
          <div class="grid">
            <div class="sidebar-nav">
              <a href="/docs/intro">Intro</a>
              <a href="/docs/setup">Setup</a>
              <a href="/docs/config">Config</a>
              <a href="/docs/deploy">Deploy</a>
              <a href="/docs/testing">Testing</a>
              <a href="/docs/advanced">Advanced</a>
              <a href="/docs/plugins">Plugins</a>
              <a href="/docs/themes">Themes</a>
            </div>
            <div class="content-area">
              <h1>Introduction</h1>
              <p>Welcome to the framework documentation. This comprehensive guide covers everything
                 you need to know about building applications with our tools.</p>
              <h2>Quick Start</h2>
              <p>Follow these steps to create your first project and deploy it to production in under five minutes.</p>
              <h3>Prerequisites</h3>
              <p>You will need Node.js version 18 or later and a package manager like npm or pnpm installed.</p>
            </div>
          </div>
        </div>
      </body>"""

# --------------------------------------------------------------------------
# F10–F18: classifier fixtures (test/RenderDetection.test.ts)
# --------------------------------------------------------------------------

F10_APP_SHELL = """<!doctype html>
      <html>
        <head>
          <title></title>
          <script type="module" src="/assets/app.js"></script>
          <script src="/assets/vendor.js"></script>
          <script src="/assets/runtime.js"></script>
        </head>
        <body>
          <div id="root"></div>
        </body>
      </html>"""

F11_CONTENT_RICH = """<!doctype html>
      <html>
        <head>
          <title>Example article</title>
        </head>
        <body>
          <main>
            <article>
              <h1>Example article</h1>
              <p>This page already contains enough text to be useful without a browser render pass.</p>
              <p>It should not be treated as an empty application shell by default.</p>
            </article>
          </main>
        </body>
      </html>"""

F12_CLOUDFLARE = """<!DOCTYPE html>
      <html><head><title>Just a moment...</title></head>
      <body>
        <div class="cf-challenge">
          <h2>Checking your browser before accessing the site.</h2>
          <p>This process is automatic. Your browser will redirect shortly.</p>
        </div>
        <script src="/cdn-cgi/challenge-platform/scripts/main.js"></script>
      </body></html>"""

F13_CAPTCHA = """<!DOCTYPE html>
      <html><head><title>Security Check</title></head>
      <body>
        <h1>Verify you are human</h1>
        <div class="captcha-container">
          <p>Please complete the security check to access this site.</p>
        </div>
      </body></html>"""

F14_ACCESS_DENIED = """<!DOCTYPE html>
      <html><head><title>Access Denied</title></head>
      <body>
        <h1>You have been blocked</h1>
        <p>This website is using a security service to protect itself.</p>
      </body></html>"""

F15_TURNSTILE = """<!DOCTYPE html>
      <html><head><title>Please wait</title></head>
      <body>
        <div class="cf-turnstile"></div>
        <p>We need to verify that you are not a robot.</p>
      </body></html>"""

F16_GENUINE_DOCS = """<!DOCTYPE html>
      <html><head><title>Getting Started - My Framework</title></head>
      <body>
        <main>
          <h1>Getting Started</h1>
          <p>Welcome to the documentation. This guide will walk you through setting up your
             project from scratch, configuring the build system, adding plugins, and deploying
             to production. The framework provides a flexible architecture that scales from
             small prototypes to large enterprise applications.</p>
          <h2>Installation</h2>
          <p>Run npm install my-framework to get started. You can also use yarn or pnpm as
             your package manager. The minimum Node.js version required is 18.0.0.</p>
        </main>
      </body></html>"""

_LONG_CONTENT = " ".join(
    ["This is a paragraph of real content about software development and best practices."] * 50
)

F17_VERIFY_MENTION = f"""<!DOCTYPE html>
      <html><head><title>My Blog Post</title></head>
      <body>
        <article>
          <h1>How to verify your deployment</h1>
          <p>{_LONG_CONTENT}</p>
        </article>
      </body></html>"""

F18_PAYWALL = """<!DOCTYPE html>
      <html><head><title>Investigating modern web scraping techniques</title></head>
      <body>
        <article>
          <h1>Investigating modern web scraping techniques</h1>
          <p>Web scraping has evolved from simple DOM extraction to hybrid rendering pipelines
             that balance cost, latency, and content completeness across static and dynamic pages.</p>
          <p>In this article we compare server-rendered sites, app shells, access-guarded
             properties, and documentation platforms with complex navigation structures.</p>
        </article>
        <section class="metered-paywall">
          <h2>Subscribe to continue reading</h2>
          <p>Create an account or sign in to access the full article.</p>
        </section>
      </body></html>"""

F19_TITLE = "<html><head><title>Hello</title></head><body><p>Some body content here.</p></body></html>"

F20_ENGINE_ABS = """
      <body>
        <main>
          <h1>Item One</h1>
          <a href="/product/123">Product link</a>
          <a href="../about">About link</a>
          <p>Engine-level absolutization fixture with enough supporting text to stay selected.</p>
        </main>
      </body>"""

# --------------------------------------------------------------------------
# F21-F24: additional archetypes (ours, not from the reference tests) that
# widen the golden span-equality corpus: news article, wiki-style reference
# page, forum thread (exercises the C-E branch end-to-end), commerce listing.
# --------------------------------------------------------------------------

F21_NEWS_ARTICLE = """<!doctype html>
<html><head>
  <title>Regional Grid Adds Storage | The Daily Ledger</title>
  <meta property="og:title" content="Regional Grid Operator Adds 400 MWh of Battery Storage">
</head>
<body>
  <header class="site-header"><a href="/">The Daily Ledger</a><nav><a href="/politics">Politics</a><a href="/energy">Energy</a></nav></header>
  <article>
    <h1>Grid Operator Adds Storage</h1>
    <p>The regional grid operator commissioned a 400 MWh battery installation on Tuesday,
       the largest storage project in the service area to date. Officials said the system
       can discharge for four hours at full output.</p>
    <figure>
      <img src="/img/battery-yard.jpg" alt="Rows of battery containers">
      <figcaption>The new battery yard at the substation.</figcaption>
    </figure>
    <blockquote><p>Storage lets us shift solar from noon into the evening peak.</p></blockquote>
    <h2>What happens next</h2>
    <ol>
      <li>Commissioning tests run through March</li>
      <li>Full commercial operation begins in April</li>
      <li>A second phase doubles capacity next year</li>
    </ol>
    <p>Analysts expect the project to reduce evening reliance on gas peaker plants.</p>
  </article>
  <footer class="site-footer"><p>Subscribe to our newsletter</p><a href="/privacy">Privacy</a></footer>
</body></html>"""

F22_WIKI_REFERENCE = """<!doctype html>
<html><head><title>Merge sort - Encyclopedia</title></head>
<body>
  <div id="content">
    <main>
      <h1>Merge sort</h1>
      <p>Merge sort is an efficient, general-purpose, comparison-based sorting algorithm.
         Most implementations produce a stable sort, meaning the order of equal elements
         is preserved between input and output.</p>
      <h2>Complexity</h2>
      <table>
        <tr><th>Case</th><th>Time</th></tr>
        <tr><td>Best</td><td>O(n log n)</td></tr>
        <tr><td>Worst</td><td>O(n log n)</td></tr>
        <tr><td>Space</td><td>O(n)</td></tr>
      </table>
      <h2>Algorithm</h2>
      <p>Conceptually, a merge sort works as follows: divide the unsorted list into
         sublists, then repeatedly merge sublists to produce new sorted sublists.</p>
      <pre><code class="language-python">def merge_sort(xs):
    if len(xs) &lt;= 1:
        return xs
    mid = len(xs) // 2
    return merge(merge_sort(xs[:mid]), merge_sort(xs[mid:]))</code></pre>
      <h2>See also</h2>
      <ul>
        <li><a href="/wiki/Quicksort">Quicksort</a></li>
        <li><a href="/wiki/Heapsort">Heapsort</a></li>
      </ul>
    </main>
  </div>
</body></html>"""

F23_FORUM_THREAD = """<!doctype html>
<html><head><title>Why is my shuffle slow? | Data Eng Forum</title>
<link rel="canonical" href="https://forum.dataeng.example/t/4812">
</head>
<body>
  <header><a href="/">Data Eng Forum</a></header>
  <div class="submission">
    <h1>Why is my shuffle slow?</h1>
    <p>I have a 2 TB join that spills constantly. Partition count is 200. What should I look at first?</p>
    <div class="votelinks"><span class="score">42</span></div>
  </div>
  <div class="comment-tree">
    <div class="comment"><p>Check for key skew before anything else; one hot key will pin a single task.</p></div>
    <div class="comment"><p>200 partitions for 2 TB is far too few. Aim for 128-256 MB per partition.</p></div>
    <div class="comment"><p>Enable AQE and skew-join splitting, then look at the spill metrics again.</p></div>
    <div class="sidebar"><a href="/jobs">Job board</a><a href="/swag">Swag shop</a></div>
  </div>
  <footer><p>Forum rules</p></footer>
</body></html>"""

F24_COMMERCE_LISTING = """<!doctype html>
<html><head><title>Field Jacket - Outfitter Co.</title></head>
<body>
  <nav class="site-nav"><a href="/men">Men</a><a href="/women">Women</a><a href="/sale">Sale</a><a href="/stores">Stores</a></nav>
  <main>
    <div class="product-page">
      <h1>Waxed Canvas Field Jacket</h1>
      <img src="/media/field-jacket-front.jpg" alt="Field jacket front view">
      <p class="price">$248.00</p>
      <p>Built from 10 oz waxed canvas with a corduroy collar, this field jacket breaks in
         like a good pair of boots. Four bellows pockets, interior security pocket,
         antique brass hardware throughout the garment.</p>
      <table>
        <tbody>
          <tr><td><strong>Size</strong></td><td><strong>Chest</strong></td><td><strong>Length</strong></td></tr>
          <tr><td>M</td><td>40-42"</td><td>29"</td></tr>
          <tr><td>L</td><td>43-45"</td><td>30"</td></tr>
        </tbody>
      </table>
      <ul>
        <li>Made in Portugal</li>
        <li>Re-waxing kit included</li>
      </ul>
    </div>
  </main>
  <footer class="site-footer"><a href="/returns">Returns</a><a href="/shipping">Shipping</a></footer>
</body></html>"""


# reference: scripts/test-table.mjs — the 3-row headerless table demo page
F25_TABLE_SCRIPT = """
<div>
  <h2>Pay</h2>
  <table>
    <tbody>
      <tr>
        <td><strong>Position</strong></td>
        <td><strong>Weekly Pay Rate</strong></td>
        <td><strong>Plus 16% Superannuation</strong></td>
        <td><strong>Total Weekly Remuneration*</strong></td>
      </tr>
      <tr>
        <td>Apprentice - under 18 years^</td>
        <td>$722.16</td>
        <td>$115.55</td>
        <td>$837.71</td>
      </tr>
      <tr>
        <td>Apprentice - 18 years and over</td>
        <td>$1,437.12</td>
        <td>$229.94</td>
        <td>$1,667.06</td>
      </tr>
    </tbody>
  </table>
</div>
"""


@dataclass
class Fixture:
    id: str
    html: str
    base_url: str | None = None
    canonical_url: str | None = None
    must_contain: list[str] = field(default_factory=list)
    must_not_contain: list[str] = field(default_factory=list)
    # classifier expectations (None = not asserted)
    expect_render_needed: bool | None = None
    expect_soft_block: bool | None = None
    expect_title: str | None = None


FIXTURES: list[Fixture] = [
    Fixture(
        "F01", F01_TABLE,
        must_contain=["| **Position** | **Weekly Pay Rate**", "Apprentice - under 18 years^"],
        must_not_contain=["<table>"],
    ),
    Fixture(
        "F02", F02_COMMERCE,
        must_contain=["Romar", "Harmonie Ephémère EP", "Add to basket"],
        must_not_contain=["Manage preferences", "Account / Login"],
    ),
    Fixture(
        "F03", F03_NESTED_NAV,
        must_contain=["Primed flatsheets", "Upfront Carbon Emissions"],
        must_not_contain=["Browse products", "Get Rebuilt updates", "Privacy Policy"],
    ),
    Fixture(
        "F04", F04_RELATIVE_URLS,
        base_url="https://rebuilt.eco/product/2fd68bae-5cc7-41f0-bb30-bc67f3f6f740",
        must_contain=[
            "(https://rebuilt.eco/product/94879ca7-40f2-4a13-8c72-f0f941220132)",
            "(https://rebuilt.eco/about-us)",
            "(https://example.org/external)",
            "(mailto:team@example.org)",
            "(https://rebuilt.eco/images/product.png)",
        ],
    ),
    Fixture(
        "F05", F05_BUTTONS,
        must_contain=["Product Title", "Upfront Carbon Emissions"],
        must_not_contain=["Add to shortlist", "Log in"],
    ),
    Fixture(
        "F06", F06_DENSE_LINKS,
        base_url="https://example.com/products/x",
        must_contain=[
            "[One product with a long descriptive title](https://example.com/p/one)",
            "[Two product with a long descriptive title](https://example.com/p/two)",
            "[Three product with a long descriptive title](https://example.com/p/three)",
        ],
        must_not_contain=["](https://example.com/p/one)[", "](https://example.com/p/two)["],
    ),
    Fixture(
        "F07", F07_HEADING_LINKS,
        base_url="https://example.com/",
        must_contain=[
            "Recent News",
            "(https://example.com/news/1)",
            "(https://example.com/news/2)",
            "(https://example.com/news/3)",
        ],
    ),
    Fixture(
        "F08", F08_DOCS_SIDEBAR,
        must_contain=[
            "Getting Started",
            "Installation",
            "npm install my-framework",
            "Configuration",
            "configuration file",
        ],
    ),
    Fixture(
        "F09", F09_SHARED_CONTAINER,
        must_contain=["Introduction", "Quick Start", "Prerequisites", "comprehensive guide"],
    ),
    Fixture("F10", F10_APP_SHELL, expect_render_needed=True),
    Fixture("F11", F11_CONTENT_RICH, expect_render_needed=False),
    Fixture("F12", F12_CLOUDFLARE, expect_soft_block=True),
    Fixture("F13", F13_CAPTCHA, expect_soft_block=True),
    Fixture("F14", F14_ACCESS_DENIED, expect_soft_block=True),
    Fixture("F15", F15_TURNSTILE, expect_soft_block=True),
    Fixture("F16", F16_GENUINE_DOCS, expect_soft_block=False),
    Fixture("F17", F17_VERIFY_MENTION, expect_soft_block=False),
    Fixture("F18", F18_PAYWALL, expect_soft_block=False),
    Fixture("F19", F19_TITLE, expect_title="Hello"),
    Fixture(
        "F21", F21_NEWS_ARTICLE,
        base_url="https://dailyledger.example/energy/storage",
        must_contain=[
            "Grid Operator Adds Storage",
            "400 MWh battery installation",
            "![Rows of battery containers](https://dailyledger.example/img/battery-yard.jpg)",
            "> Storage lets us shift solar",
            "1. Commissioning tests run through March",
            "## What happens next",
        ],
        must_not_contain=["Subscribe to our newsletter", "The Daily Ledger"],
    ),
    Fixture(
        "F22", F22_WIKI_REFERENCE,
        must_contain=[
            "# Merge sort",
            "| Case | Time |",
            "| Best | O(n log n) |",
            "```python",
            "def merge_sort(xs):",
            "[Quicksort](/wiki/Quicksort)",
        ],
        must_not_contain=["<table>", "<pre>"],
    ),
    Fixture(
        "F23", F23_FORUM_THREAD,
        canonical_url="https://forum.dataeng.example/t/4812",
        must_contain=[
            "Why is my shuffle slow?",
            "2 TB join that spills constantly",
            "Check for key skew",
            "Enable AQE and skew-join splitting",
        ],
        must_not_contain=["Job board", "Swag shop", "Forum rules"],
    ),
    Fixture(
        "F24", F24_COMMERCE_LISTING,
        base_url="https://outfitter.example/p/field-jacket",
        must_contain=[
            "Waxed Canvas Field Jacket",
            "$248.00",
            "| **Size** | **Chest** | **Length** |",
            "- Made in Portugal",
            "![Field jacket front view](https://outfitter.example/media/field-jacket-front.jpg)",
        ],
        must_not_contain=["Returns", "Shipping", "Sale"],
    ),
    Fixture(
        "F25", F25_TABLE_SCRIPT,
        must_contain=[
            "# Pay",
            "| **Position** | **Weekly Pay Rate**",
            "Apprentice - under 18 years^",
            "Apprentice - 18 years and over",
            "$1,437.12",
            "$1,667.06",
        ],
        must_not_contain=["<table>"],
    ),
    Fixture(
        "F20", F20_ENGINE_ABS,
        base_url="https://example.com/products/item-1",
        must_contain=["(https://example.com/product/123)", "(https://example.com/about)"],
    ),
]

FIXTURES_BY_ID = {f.id: f for f in FIXTURES}

EXTRACTION_FIXTURE_IDS = [f.id for f in FIXTURES if f.must_contain or f.must_not_contain]


# --------------------------------------------------------------------------
# documents-row synthesis (input_hint shape)
# --------------------------------------------------------------------------

_TOP_LEVEL_SPLIT = re.compile(r"(?=<(?:body|main|article|div|table|nav|section|header|footer)\b)", re.I)
_MEDIA_TAG = re.compile(
    r"<(img|video|iframe)\b[^>]*>", re.I
)
_SRC_ATTR = re.compile(r"""\bsrc\s*=\s*["']([^"']+)["']""", re.I)
_TITLE_ATTR = re.compile(r"""\btitle\s*=\s*["']([^"']+)["']""", re.I)


def html_to_input_spans(html: str) -> list[dict]:
    """Split a page into interleaved input spans (FIXTURES.md synthesis rule).

    kind='html' spans carry raw HTML fragments in document order; every
    img[src]/video[src]/iframe[title] additionally yields a kind='image' /
    'media' span carrying media_ref at its document position.
    """
    fragments = [f for f in _TOP_LEVEL_SPLIT.split(html) if f]
    if not fragments:
        fragments = [html]
    spans: list[dict] = []
    offset = 0
    for frag in fragments:
        spans.append({"kind": "html", "text": frag, "media_ref": None, "offset": offset})
        offset += 1
        for m in _MEDIA_TAG.finditer(frag):
            tag = m.group(1).lower()
            attrs = m.group(0)
            if tag == "iframe":
                tm = _TITLE_ATTR.search(attrs)
                sm = _SRC_ATTR.search(attrs)
                if tm and sm:
                    spans.append(
                        {"kind": "media", "text": None, "media_ref": sm.group(1), "offset": offset}
                    )
                    offset += 1
            else:
                sm = _SRC_ATTR.search(attrs)
                if sm:
                    kind = "image" if tag == "img" else "media"
                    spans.append(
                        {"kind": kind, "text": None, "media_ref": sm.group(1), "offset": offset}
                    )
                    offset += 1
    return spans


def fixture_document_rows(replicas: int = 1, skew_ids: dict[str, int] | None = None) -> list[dict]:
    """Build deterministic documents rows from the fixture corpus.

    replicas > 1 replicates each extraction fixture with doc_id
    ``{fid}#{i}``; skew_ids maps fixture id → body-repeat factor to
    synthesize giant documents for skew testing.
    """
    rows: list[dict] = []
    for f in FIXTURES:
        for i in range(replicas):
            doc_id = f.id if replicas == 1 else f"{f.id}#{i}"
            html = f.html
            if skew_ids and f.id in skew_ids and i == 0:
                html = html * skew_ids[f.id]
            rows.append(
                {
                    "doc_id": doc_id,
                    "base_url": f.base_url,
                    "canonical_url": f.canonical_url,
                    "spans": html_to_input_spans(html),
                }
            )
    return rows
