"""Differential test: my native-Column classifiers vs the REFERENCE'S OWN
compiled implementation (/root/reference/dist/utils/render-detection.js has
no external dependencies, so it runs directly under node).

This is the strongest parity evidence available in this sandbox: the same
inputs go through both implementations and every assessment field must
match exactly.
"""

import json
import os
import re
import shutil
import subprocess

import pytest
from pyspark.sql import functions as F

from fetch_engines_spark import classifiers as X

node = shutil.which("node")

_NODE_SCRIPT = """
import * as rd from '/root/reference/dist/utils/render-detection.js';
import { readFileSync } from 'node:fs';
const docs = JSON.parse(readFileSync(0, 'utf8'));
const out = docs.map((html) => {
  const a = rd.assessHtmlRenderNeed(html);
  return {
    visibleTextLength: a.visibleTextLength,
    titleLength: a.titleLength,
    scriptCount: a.scriptCount,
    headingCount: a.headingCount,
    hasMainLike: a.hasMainLike,
    hasEmptyRootContainer: a.hasEmptyRootContainer,
    renderLikelyNeededScore: a.renderLikelyNeededScore,
    renderLikelyNeeded: a.renderLikelyNeeded,
    qualityScore: a.qualityScore,
    softBlock: rd.isSoftBlockPage(html),
  };
});
console.log(JSON.stringify(out));
"""

# both node scripts import this compiled module of the reference
_REFERENCE_JS = re.search(r"from '([^']+)'", _NODE_SCRIPT).group(1)
pytestmark = [
    pytest.mark.skipif(node is None, reason="node not available"),
    pytest.mark.skipif(
        not os.path.exists(_REFERENCE_JS), reason=f"{_REFERENCE_JS} not present"
    ),
]


def _variants() -> list[str]:
    """Deterministic enumeration of page shapes exercising every score term."""
    titles = ["", "Short", "A Reasonably Long Page Title Here", "Just a moment..."]
    bodies = [
        "",
        "<div id='root'></div>",
        "<div id='root'><!-- app --></div>",
        "<main><h1>H</h1><p>" + "real content words here " * 12 + "</p></main>",
        "<article><h2>A</h2><p>" + "text " * 60 + "</p></article>",
        "<p>tiny</p>",
        "<div class='cf-turnstile'></div><p>We need to verify that you are not a robot.</p>",
        "<h1>Verify you are human</h1><div class='captcha-container'></div>",
        "<p>" + "long benign content about software engineering practices " * 40 + "</p>",
        "<noscript>Please enable JavaScript to run this app.</noscript><div id='app'></div>",
    ]
    scripts = ["", "<script src='/a.js'></script>", "<script>x</script>" * 3]
    pages = []
    for t in titles:
        for b in bodies:
            for s in scripts:
                pages.append(
                    f"<html><head><title>{t}</title>{s}</head><body>{b}</body></html>"
                )
    # entity + comment edge cases
    pages.append("<html><head><title>A &amp; B &nbsp; C</title></head><body><p>x &lt;y&gt; &quot;z&quot; &#39;w&#39;</p></body></html>")
    pages.append("<html><!-- <title>fake</title> --><head><title>Real</title></head><body><svg><text>icon</text></svg><p>body</p></body></html>")
    pages.append("no tags at all just text " * 10)
    return pages


def _lcg_pages(n: int = 300, seed: int = 0xC0FFEE) -> list[str]:
    """Deterministic pseudo-random page generator (LCG, no RNG module) —
    broadens the differential surface beyond the enumerated variants."""
    state = seed
    def rnd(m):
        nonlocal state
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        return (state >> 33) % m

    words = "content page example render script title verify browser robot main article".split()
    titles = ["", "Just a moment...", "Plain Title", "security check pending", "A & B &amp; C"]
    pages = []
    for _ in range(n):
        t = titles[rnd(len(titles))]
        parts = [f"<html><head><title>{t}</title>"]
        for _ in range(rnd(4)):
            parts.append("<script src='/x.js'></script>")
        if rnd(3) == 0:
            parts.append("<noscript>please enable javascript to run this app</noscript>")
        parts.append("</head><body>")
        shape = rnd(4)
        if shape == 0:
            parts.append(f"<div id='{'root' if rnd(2) else 'app'}'></div>")
        elif shape == 1:
            body = " ".join(words[rnd(len(words))] for _ in range(rnd(120)))
            parts.append(f"<main><h{1+rnd(3)}>H</h{1+rnd(3)}><p>{body}</p></main>")
        elif shape == 2:
            parts.append("<div class='captcha-container'><p>please complete the security check</p></div>")
        else:
            body = " ".join(words[rnd(len(words))] for _ in range(rnd(400)))
            parts.append(f"<article><p>{body}</p></article>")
        if rnd(4) == 0:
            parts.append("<!-- <main>commented out</main> -->")
        if rnd(5) == 0:
            parts.append("<svg><text>inline icon</text></svg>")
        parts.append("</body></html>")
        pages.append("".join(parts))
    return pages


def test_classifiers_match_reference_implementation(spark):
    # two independent PRNG streams: 1123 pages total against the
    # reference's own compiled implementation, exact on every field
    pages = _variants() + _lcg_pages() + _lcg_pages(n=700, seed=0xBEEF42)
    ref = json.loads(
        subprocess.run(
            [node, "--input-type=module", "-e", _NODE_SCRIPT],
            input=json.dumps(pages),
            capture_output=True,
            text=True,
            check=True,
        ).stdout
    )
    assert len(ref) == len(pages)

    df = spark.createDataFrame([(i, p) for i, p in enumerate(pages)], "i int, html string")
    cols = X.assess_html_render_need(F.col("html"))
    got = {
        r.i: r
        for r in df.select(
            "i",
            cols["visible_text_length"].alias("vtl"),
            cols["title_length"].alias("tl"),
            cols["script_count"].alias("sc"),
            cols["heading_count"].alias("hc"),
            cols["has_main_like"].alias("ml"),
            cols["has_empty_root_container"].alias("erc"),
            cols["render_likely_needed_score"].alias("rs"),
            cols["render_likely_needed"].alias("rn"),
            cols["quality_score"].alias("qs"),
            X.is_soft_block(F.col("html")).alias("sb"),
        ).collect()
    }
    mismatches = []
    for i, expected in enumerate(ref):
        g = got[i]
        checks = {
            "visibleTextLength": (g.vtl, expected["visibleTextLength"]),
            "titleLength": (g.tl, expected["titleLength"]),
            "scriptCount": (g.sc, expected["scriptCount"]),
            "headingCount": (g.hc, expected["headingCount"]),
            "hasMainLike": (g.ml, expected["hasMainLike"]),
            "hasEmptyRootContainer": (g.erc, expected["hasEmptyRootContainer"]),
            "renderScore": (g.rs, expected["renderLikelyNeededScore"]),
            "renderNeeded": (g.rn, expected["renderLikelyNeeded"]),
            "qualityScore": (g.qs, expected["qualityScore"]),
            "softBlock": (g.sb, expected["softBlock"]),
        }
        for field, (mine, theirs) in checks.items():
            if mine != theirs:
                mismatches.append((i, field, mine, theirs, pages[i][:120]))
    assert not mismatches, mismatches[:10]


_NODE_X7X8 = """
import * as rd from '/root/reference/dist/utils/render-detection.js';
import { readFileSync } from 'node:fs';
const cases = JSON.parse(readFileSync(0, 'utf8'));
const out = cases.map(([html, md]) => {
  const base = rd.assessSerializedContent(html, 'html');
  const cand = rd.assessSerializedContent(md, 'markdown');
  return {
    baseText: base.textLength, baseTitle: base.titleLength, baseQ: base.qualityScore,
    candText: cand.textLength, candTitle: cand.titleLength, candQ: cand.qualityScore,
    better: rd.isRenderedContentMeaningfullyBetter(base, cand),
  };
});
console.log(JSON.stringify(out));
"""


def test_x7_x8_match_reference_implementation(spark):
    """X7 (serialized-content assessment, html+markdown) and X8
    (rendered-vs-static comparator) vs the reference's own implementation."""
    htmls = _variants()[:40]
    mds = [
        "",
        "# Title\n\nshort",
        "# Example article\n\n" + "rendered body text " * 30,
        "no heading, just plain text " * 10,
        "```\ncode only\n```",
        "![img](http://x/y.png)\n\n[link text](http://x)",
        "# A much longer rendered title line here\n\n" + "word " * 200,
        "**bold** *em* ~~strike~~ > quote\n\n- item",
    ]
    cases = [[h, mds[i % len(mds)]] for i, h in enumerate(htmls)]
    ref = json.loads(
        subprocess.run(
            [node, "--input-type=module", "-e", _NODE_X7X8],
            input=json.dumps(cases),
            capture_output=True,
            text=True,
            check=True,
        ).stdout
    )

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, h, m) for i, (h, m) in enumerate(cases)], "i int, html string, md string"
    )
    base = X.assess_serialized_content(F.col("html"), "html")
    cand = X.assess_serialized_content(F.col("md"), "markdown")
    got = {
        r.i: r
        for r in df.select(
            "i",
            base["text_length"].alias("bt"),
            base["title_length"].alias("bl"),
            base["quality_score"].alias("bq"),
            cand["text_length"].alias("ct"),
            cand["title_length"].alias("cl"),
            cand["quality_score"].alias("cq"),
            X.is_rendered_content_meaningfully_better(base, cand).alias("better"),
        ).collect()
    }
    mismatches = []
    for i, e in enumerate(ref):
        g = got[i]
        for field, pair in {
            "baseText": (g.bt, e["baseText"]),
            "baseTitle": (g.bl, e["baseTitle"]),
            "baseQ": (g.bq, e["baseQ"]),
            "candText": (g.ct, e["candText"]),
            "candTitle": (g.cl, e["candTitle"]),
            "candQ": (g.cq, e["candQ"]),
            "better": (g.better, e["better"]),
        }.items():
            if pair[0] != pair[1]:
                mismatches.append((i, field, *pair))
    assert not mismatches, mismatches[:8]
