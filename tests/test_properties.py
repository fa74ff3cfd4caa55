"""Property-based robustness tests (hypothesis): the converter must never
throw on arbitrary input, and span segmentation must round-trip."""

import string

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from fetch_engines_spark.convert.converter import postprocess_markdown
from fetch_engines_spark.dom import parse_html
from fetch_engines_spark.extract import convert_document, markdown_to_spans, spans_to_markdown

TAGS = ["div", "p", "a", "span", "main", "nav", "ul", "li", "table", "tr", "td",
        "h1", "h2", "script", "style", "img", "button", "pre", "code", "strong"]

text_strategy = st.text(
    alphabet=string.ascii_letters + string.digits + " <>&\"'=/.\n\t{}|[]()#*-_`",
    max_size=200,
)


@st.composite
def html_fragments(draw, depth=0):
    if depth > 4:
        return draw(text_strategy)
    n = draw(st.integers(0, 3))
    parts = []
    for _ in range(n):
        if draw(st.booleans()):
            tag = draw(st.sampled_from(TAGS))
            attrs = ""
            if draw(st.booleans()):
                attrs = f' class="{draw(st.text(string.ascii_lowercase + "- ", max_size=20))}"'
            if draw(st.booleans()):
                attrs += f' href="{draw(st.text(string.ascii_letters + ":/.-", max_size=30))}"'
            inner = draw(html_fragments(depth=depth + 1))
            if draw(st.integers(0, 9)) == 0:
                parts.append(f"<{tag}{attrs}>{inner}")  # unclosed
            else:
                parts.append(f"<{tag}{attrs}>{inner}</{tag}>")
        else:
            parts.append(draw(text_strategy))
    return "".join(parts)


@settings(max_examples=150, deadline=None)
@given(html_fragments())
def test_convert_never_raises(html):
    _, md, error, _, _ = convert_document(html, base_url="https://example.com/a/b")
    assert isinstance(md, str)
    assert not (error or "").startswith("ERR_EXTRACTION"), error


@settings(max_examples=150, deadline=None)
@given(text_strategy)
def test_convert_raw_text_never_raises(text):
    _, md, error, _, _ = convert_document(text)
    assert isinstance(md, str)
    assert not (error or "").startswith("ERR_EXTRACTION"), error


@settings(max_examples=150, deadline=None)
@given(html_fragments())
def test_parse_never_raises(html):
    root = parse_html(html)
    assert root.text_content is not None


@settings(max_examples=200, deadline=None)
@given(html_fragments())
def test_span_roundtrip_from_any_page(html):
    """spans → markdown reconstruction must be lossless for any produced
    markdown, and offsets dense."""
    md = convert_document(html)[1]
    spans = markdown_to_spans(md)
    assert spans_to_markdown(spans) == md
    assert [s["offset"] for s in spans] == list(range(len(spans)))


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=500))
def test_postprocess_idempotent_on_its_own_output(md):
    once = postprocess_markdown(md)
    assert isinstance(once, str)


def test_deeply_nested_html_does_not_crash():
    html = "<div>" * 3000 + "deep content here" + "</div>" * 3000
    _, md, error, _, _ = convert_document(html)
    assert isinstance(md, str)
    assert not (error or "").startswith("ERR_EXTRACTION"), error


def _growth_per_doubling(pages: dict, rounds: int = 9) -> float:
    """How much the conversion time grows per doubling of nesting depth:
    ``pages`` maps depths to html.

    Each round times every page, a page of depth d converted
    ``deepest // d`` times so that all timings span about the same interval,
    in ascending depth order on even rounds and descending order on odd
    ones, so that a drift in speed during a round favours neither end.  The
    growth is 2 ** the slope of the least-squares line through every
    (log2 depth, log2 time).  A shared host's CPU speed swings by a third
    within a second, which moves the ratio of two single timings by a half;
    the fit over all timings averages that out.  Timings are CPU time, with
    the cyclic collector paused."""
    import gc
    import math
    import statistics
    import time

    depths = sorted(pages)
    xs, ys = [], []
    for r in range(rounds):
        for depth in depths if r % 2 == 0 else depths[::-1]:
            repeats = max(1, depths[-1] // depth)
            gc.collect()
            gc.disable()
            try:
                start = time.process_time()
                for _ in range(repeats):
                    convert_document(pages[depth])
                elapsed = (time.process_time() - start) / repeats
            finally:
                gc.enable()
            xs.append(math.log2(depth))
            ys.append(math.log2(elapsed))
    return 2 ** statistics.linear_regression(xs, ys).slope


NESTS = {
    "div": lambda d: "<div>" * d + "deep content here" + "</div>" * d,
    "div+text": lambda d: "<div>some words here " * d + "</div>" * d,
    "div+links": lambda d: "<div><a href='/a'>link</a> text " * d + "</div>" * d,
    # C-F removes every footer before C-G weighs each div
    "div+links+footer": lambda d: (
        "<div><a href='/a'>x</a><a href='/b'>y</a> plain words " * d + "<footer>f</footer></div>" * d
    ),
    # C-B scores every article
    "article": lambda d: "<article><p>some words in a paragraph</p> " * d + "</article>" * d,
    # P7 removes every aside before C-C scores each .post
    "post+aside": lambda d: (
        "<div class='post'><aside><a href='/a'>related article one</a> <a href='/b'>related article"
        " two</a> <a href='/c'>related article three</a></aside> plain words in the post " * d
        + "</div>" * d
    ),
}


@pytest.mark.parametrize(
    "shape, depths",
    [
        ("div", (1000, 2000, 4000, 8000)),
        ("div+text", (500, 1000, 2000, 4000)),
        ("div+links", (500, 1000, 2000, 4000)),
        ("div+links+footer", (500, 1000, 2000, 4000)),
        ("article", (500, 1000, 2000, 4000)),
        ("post+aside", (500, 1000, 2000, 4000)),
    ],
)
def test_conversion_time_linear_in_nesting_depth(shape, depths):
    """Each doubling of a nest's depth at most multiplies the conversion
    time by 2.5 (per-candidate subtree walks made it ×4, and so did queries
    that stepped over every element an earlier stage removed inside the
    candidate)."""
    growth = _growth_per_doubling({d: NESTS[shape](d) for d in depths})
    assert growth <= 2.5, growth


def test_20k_deep_page_converts_within_seconds():
    import time

    html = NESTS["div"](20000)
    start = time.perf_counter()
    _, md, error, _, _ = convert_document(html)
    assert time.perf_counter() - start < 5
    assert isinstance(md, str)
    assert not (error or "").startswith("ERR_EXTRACTION"), error


def _postprocess_every_step(markdown: str) -> str:
    """M2–M12 with every substitution applied unconditionally (the chain
    ``postprocess_markdown`` short-cuts)."""
    import re

    from fetch_engines_spark.convert import converter as c

    p = markdown
    p = c._M2_HEADING.sub(r"\n\n\2\n\n", p)
    p = c._M3_LIST.sub(r"\n\n\2", p)
    p = c._M4_EMPTY_LINK.sub("", p)
    p = c._M4_EMPTY_IMG.sub("", p)
    p = c._M5_PROTO_REL.sub(r"\1https://", p)
    p = c._M6_ADJ_LINK.sub(r"\1 ", p)
    p = "\n".join(
        c._LINK_SPLIT.sub(r"\1\n", line)
        if len(c._LINK_RUN.findall(line)) >= 3 and len(line) >= 180
        else line
        for line in p.split("\n")
    )
    p = c._M8_NEWLINES.sub("\n\n", p)
    p = re.sub(r"^[ \t]+|[ \t]+$", "", p, flags=re.M)
    p = c._M10_CODE.sub(r"\n\n\2\n\n", p)
    p = c._M8_NEWLINES.sub("\n\n", p)
    p = c._M11_DUP_LINE.sub(r"\1", p)
    p = c._M12_META_SEP.sub(r"\1\n\2", p)
    return p.strip()


_MD_PIECES = ["#", " ", "\t", "\n", "[", "]", "(", ")", "!", "/", "`", "```", "-", "---",
              "a", "1.", "*", ">", "](//", ")[", "[]", "x" * 30, "[link](https://e.com/p)"]


@settings(max_examples=400, deadline=None)
@given(st.lists(st.sampled_from(_MD_PIECES), max_size=120).map("".join))
def test_postprocess_shortcuts_change_nothing(md):
    assert postprocess_markdown(md) == _postprocess_every_step(md)


from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def _dup_corpus(draw):
    words = "alpha beta gamma delta epsilon zeta eta theta".split()
    n_base = draw(st.integers(2, 5))
    docs = []
    for i in range(n_base):
        toks = draw(st.lists(st.sampled_from(words), min_size=6, max_size=18))
        docs.append((f"d{i:02d}", " ".join(toks)))
    # replicate one doc a draw-chosen number of times (the degenerate bucket)
    n_rep = draw(st.integers(0, 6))
    docs += [(f"r{j:02d}", docs[0][1]) for j in range(n_rep)]
    return docs


@given(_dup_corpus(), st.integers(2, 4))
@settings(max_examples=8, deadline=None)
def test_capped_pairs_are_subset_of_uncapped(spark, corpus, cap):
    """Invariants of the skew guard, for any corpus and cap: (1) capped
    candidate pairs never invent a pair the uncapped join wouldn't emit;
    (2) every pair of byte-identical texts is still recovered (via star or
    pairwise) as a connected component."""
    from pyspark.sql import functions as F

    from fetch_engines_spark.pipelines.dedup import minhash_candidate_pairs

    pass  # spark is the session fixture
    df = spark.createDataFrame(corpus, "doc_id string, text string")
    uncapped = {
        (r.doc_a, r.doc_b)
        for r in minhash_candidate_pairs(df, num_hashes=4, band_size=2).collect()
    }
    capped = {
        (r.doc_a, r.doc_b)
        for r in minhash_candidate_pairs(
            df, num_hashes=4, band_size=2, max_bucket_size=cap
        ).collect()
    }
    assert capped <= uncapped

    # identical-text docs stay connected through the group representative
    from collections import defaultdict

    groups = defaultdict(list)
    for doc_id, text in corpus:
        groups[text].append(doc_id)
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for a, b in capped:
        parent[find(a)] = find(b)
    for text, ids in groups.items():
        if len(ids) > 1:
            roots = {find(i) for i in ids}
            assert len(roots) == 1, (text, ids, capped)


@given(st.binary(min_size=0, max_size=400))
@settings(max_examples=120, deadline=None)
def test_pdf_parser_never_crashes_unexpectedly(data):
    """Fuzz: arbitrary bytes either parse or raise ValueError/zlib-style
    errors wrapped by the stage — never an unbounded crash type that the
    UDF's except would miss."""
    from fetch_engines_spark.pdf import parse_pdf_spans

    try:
        spans, n_pages, n_items = parse_pdf_spans(b"%PDF-1.4\n" + data)
        assert isinstance(spans, list) and n_pages >= 0 and n_items >= 0
    except Exception:
        pass  # the Arrow stage catches per-doc exceptions into the error column


@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=1,
            max_size=40,
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=40, deadline=None)
def test_pdf_writer_parser_roundtrip_arbitrary_text(lines):
    """Generator→parser roundtrip for arbitrary printable text (incl.
    parens/backslashes, which exercise the escape paths)."""
    import scripts.build_fixture_data as bfd
    from fetch_engines_spark.pdf import parse_pdf_spans

    stream = b"\n".join(
        bfd._pdf_line(11, 72, 720 - 100 * i, t) for i, t in enumerate(lines)
    )
    spans, n_pages, _ = parse_pdf_spans(bfd._pdf_bytes([stream]))
    got = [s["text"] for s in spans]
    # each input line is its own span (100pt gaps defeat paragraph merging);
    # the parser strips leading/trailing whitespace and drops blank lines
    exp = [t.strip() for t in lines if t.strip()]
    assert got == exp, (got, lines)


@given(
    st.integers(1, 12),
    st.integers(1, 10),
    st.sampled_from([0, 2, 4, 6]),
    st.lists(st.integers(0, 4), min_size=1, max_size=5),
    st.integers(0, 2**32 - 1),
)
@settings(max_examples=40, deadline=None)
def test_png_writer_decoder_roundtrip_arbitrary(w, h, color_type, filters, seed):
    """PNG property: any dimensions/color type/per-row filter mix written
    by the generator decodes to the exact pixel array."""
    from scripts.build_fixture_data import _png_bytes

    from fetch_engines_spark.pipelines.multimodal import decode_png

    ch = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    px = bytes((seed * 2654435761 + i * 97) % 256 for i in range(w * h * ch))
    img = decode_png(_png_bytes(w, h, color_type, px, filters))
    assert img["pixels"] == px and (img["width"], img["height"]) == (w, h)


@given(st.binary(min_size=0, max_size=300))
@settings(max_examples=150, deadline=None)
def test_media_decoders_never_crash_unexpectedly(data):
    """Fuzz: arbitrary bytes behind the PNG magic either decode or raise —
    the Arrow stage converts any raise to an error row; nothing may hang
    or exhaust memory (bomb guards bound all allocations)."""
    from fetch_engines_spark.pipelines.multimodal import decode_png

    try:
        decode_png(b"\x89PNG\r\n\x1a\n" + data)
    except Exception:
        pass


@given(
    st.integers(1, 20),
    st.integers(1, 20),
    st.sampled_from([0, 2, 6]),
    st.lists(st.integers(0, 4), min_size=1, max_size=5),
    st.integers(0, 2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_png_adam7_roundtrip_arbitrary(w, h, ct, filters, seed):
    """Adam7 property: arbitrary (incl. tiny/ragged) dimensions, every
    color type and filter mix, encoded interlaced, must decode to the
    EXACT display-order pixels — pixel equality (not just sums) catches
    any pass-order or scatter-position mistake."""
    from scripts.build_fixture_data import _png_bytes

    from fetch_engines_spark.pipelines.multimodal import decode_png

    ch = {0: 1, 2: 3, 6: 4}[ct]
    px = bytes(((x * 7 + y * 13 + c * 29 + seed) % 256)
               for y in range(h) for x in range(w) for c in range(ch))
    img = decode_png(_png_bytes(w, h, ct, px, filters, interlaced=True))
    assert (img["width"], img["height"], img["channels"]) == (w, h, ch)
    assert img["pixels"] == px
    # and the same pixels non-interlaced agree
    img2 = decode_png(_png_bytes(w, h, ct, px, filters))
    assert img2["pixels"] == px


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["response", "request", "warcinfo", "metadata"]),
            st.binary(min_size=0, max_size=200),
            st.booleans(),
        ),
        min_size=1,
        max_size=6,
    ),
    st.booleans(),
)
@settings(max_examples=50, deadline=None)
def test_warc_writer_parser_roundtrip_arbitrary(specs, gzipped):
    """WARC property: arbitrary record mixes (incl. HTTP-response blocks
    and bodies containing CRLF/WARC-like bytes) roundtrip through the
    independent writer, plain or as per-record gzip members."""
    import gzip as _gz

    import scripts.build_fixture_data as bfd

    from fetch_engines_spark.warc import parse_warc

    raws = []
    expected = []
    for i, (wtype, body, as_http) in enumerate(specs):
        rid = f"<urn:uuid:prop-{i}>"
        if wtype == "response" and as_http:
            block = bfd._http_response("200 OK", "application/octet-stream", body)
            exp_payload, exp_status = body, 200
        else:
            block = body
            exp_payload, exp_status = body, None
        raws.append(
            bfd._warc_record(
                wtype, rid, {"WARC-Target-URI": f"https://x.test/{i}"}, block
            )
        )
        expected.append((rid, wtype, exp_status, exp_payload))
    data = (
        b"".join(_gz.compress(r) for r in raws) if gzipped else b"".join(raws)
    )
    recs = parse_warc(data)
    assert [
        (r["record_id"], r["warc_type"], r["http_status"], r["payload"]) for r in recs
    ] == expected


@given(st.binary(min_size=0, max_size=300))
@settings(max_examples=120, deadline=None)
def test_warc_parser_never_crashes_unexpectedly(data):
    """Fuzz: arbitrary bytes (optionally behind the WARC magic) either
    parse or raise ValueError — the Arrow stage's error-row contract."""
    from fetch_engines_spark.warc import parse_warc

    for payload in (data, b"WARC/1.0\r\n" + data):
        try:
            parse_warc(payload)
        except ValueError:
            pass


def test_warc_parser_review_findings():
    """Review findings on the WARC parser: folded (continuation) header
    lines are legal WARC 1.0 and must parse; a missing WARC-Record-ID
    yields None (not ""), so the documents adapter's url fallback fires;
    partial=True bounds a malformed record's blast radius to the tail;
    NUL padding after the last gzip member is tolerated but other
    trailing garbage is not."""
    import gzip as _gz

    import scripts.build_fixture_data as bfd

    from fetch_engines_spark.warc import parse_warc

    # folded WARC header: the long URI continues on an HT-indented line
    folded = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Record-ID: <urn:uuid:fold-1>\r\n"
        b"WARC-Target-URI: https://example.test/a-very\r\n"
        b"\t/long/path\r\n"
        b"Content-Length: 4\r\n\r\nBODY\r\n\r\n"
    )
    (rec,) = parse_warc(folded)
    assert rec["target_uri"] == "https://example.test/a-very /long/path"
    assert rec["payload"] == b"BODY"

    # record without WARC-Record-ID -> None, never ""
    no_id = (
        b"WARC/1.0\r\nWARC-Type: resource\r\n"
        b"WARC-Target-URI: https://example.test/x\r\n"
        b"Content-Length: 2\r\n\r\nhi\r\n\r\n"
    )
    (rec,) = parse_warc(no_id)
    assert rec["record_id"] is None

    # partial mode: 2 good records then garbage -> both records + sentinel
    good = bfd._warc_record("resource", "<urn:uuid:p-0>", {}, b"one")
    good2 = bfd._warc_record("resource", "<urn:uuid:p-1>", {}, b"two")
    broken = good + good2 + b"WARC/1.0\r\nNo-Colon-Header\r\n\r\n"
    out = parse_warc(broken, partial=True)
    assert [r.get("record_id") for r in out[:2]] == ["<urn:uuid:p-0>", "<urn:uuid:p-1>"]
    assert "_partial_error" in out[2] and "after 2 parsed records" in out[2]["_partial_error"]
    # without partial the same input raises (API contract unchanged)
    try:
        parse_warc(broken)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass
    # a file that is garbage from byte 0 still raises even with partial
    try:
        parse_warc(b"WARC/1.0\r\nNo-Colon\r\n\r\n", partial=True)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass

    # gzip members: NUL padding after the last member tolerated,
    # non-NUL trailing garbage rejected (offset-walk regression)
    members = b"".join(_gz.compress(r) for r in (good, good2))
    recs = parse_warc(members + b"\x00" * 16)
    assert [r["record_id"] for r in recs] == ["<urn:uuid:p-0>", "<urn:uuid:p-1>"]
    try:
        parse_warc(members + b"junk")
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_gunzip_members_many_members_linear_walk():
    """~2000 per-record gzip members must decompress via the offset walk
    (the old tail-reslice-per-member pattern was quadratic; at this size
    it still finishes but the walk must stay byte-exact across member
    boundaries, including members that end exactly on a chunk edge)."""
    import gzip as _gz

    from fetch_engines_spark.warc import _gunzip_members

    parts = [f"rec-{i}|".encode() * (i % 7 + 1) for i in range(2000)]
    blob = b"".join(_gz.compress(p) for p in parts)
    assert _gunzip_members(blob, 1 << 26) == b"".join(parts)
